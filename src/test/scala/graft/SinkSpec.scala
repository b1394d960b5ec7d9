package graft

import graft.operators.Sink

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitionedCsv creates one directory per partition value") {
    val dir = SparkEntry.tempDir("graft-sink").toString
    val df = Seq(("202401", 1.0), ("202401", 2.0), ("202402", 3.0)).toDF("period", "v")
    Sink.writePartitionedCsv(df, "period", dir)
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq == Seq("period=202401", "period=202402"))
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 3)
  }

  test("bucketed tables join without a shuffle (co-located sort-merge)") {
    import org.apache.spark.sql.execution.ExplainMode
    val facts = (1 to 1000).map(i => (i.toLong % 100, s"f$i")).toDF("k", "fv")
    val dims = (1 to 500).map(i => (i.toLong % 100, i * 1.0)).toDF("k", "dv")
    Sink.writeBucketed(facts, "graft_bkt_facts", Seq("k"), nBuckets = 4, sortCols = Seq("k"))
    Sink.writeBucketed(dims, "graft_bkt_dims", Seq("k"), nBuckets = 4, sortCols = Seq("k"))
    val joined = spark.table("graft_bkt_facts")
      .join(spark.table("graft_bkt_dims"), "k")
    // disable broadcast so the join would normally shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == facts.join(dims, "k").count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("writePartitionedParquet round-trips with partition pruning") {
    val dir = SparkEntry.tempDir("graft-sinkp").toString
    val df = Seq(("202401", 1.0), ("202402", 3.0)).toDF("period", "v")
    Sink.writePartitionedParquet(df, "period", dir)
    val pruned = spark.read.parquet(dir).filter($"period" === "202402")
    assert(pruned.count() == 1)
    assert(pruned.head.getAs[Double]("v") == 3.0)
  }

  test("writeJsonl produces exactly `shards` files and round-trips values") {
    val tmp = SparkEntry.tempDir("jsonl_spec_")
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    graft.operators.Sink.writeJsonl(df, tmp.getPath, shards = 4)
    val files = tmp.listFiles.filter(_.getName.startsWith("part-"))
    assert(files.length == 4, s"expected 4 shards, got ${files.length}")
    val back = spark.read.json(tmp.getPath)
      .selectExpr("CAST(id AS LONG) AS id", "v")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == (1L to 100L).map(i => (i, s"v$i")))
  }

  test("writeJsonl codec: compressed shards carry the extension and round-trip") {
    for ((codec, ext) <- Seq("gzip" -> ".gz", "bzip2" -> ".bz2")) {
      val tmp = SparkEntry.tempDir(s"jsonl_${codec}_")
      val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
      graft.operators.Sink.writeJsonl(df, tmp.getPath, shards = 2, codec = codec)
      val files = tmp.listFiles.filter(_.getName.startsWith("part-"))
      assert(files.length == 2 && files.forall(_.getName.endsWith(ext)),
        files.map(_.getName).mkString(","))
      val back = spark.read.json(tmp.getPath)
        .selectExpr("CAST(id AS LONG) AS id").orderBy("id")
        .collect().map(_.getLong(0)).toSeq
      assert(back == (1L to 50L), codec)
    }
  }

  test("writeZOrdered: lossless round trip; every file is tight in BOTH z dimensions") {
    import org.apache.spark.sql.functions._
    // a 64x64 grid: the two dimensions vary independently, so a plain sort
    // on either column would leave the other's per-file range at ~full width
    val n = 4096L
    val df = spark.range(n)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      .repartition(8)
    val dir = SparkEntry.tempDir("graft-zorder").toString + "/t"
    Sink.writeZOrdered(df.toDF(), dir, Seq("x", "y"), bits = 8, numFiles = 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == n)
    assert(back.exceptAll(df.toDF()).isEmpty && df.toDF().exceptAll(back).isEmpty)
    val stats = back.groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .collect()
    assert(stats.length >= 8, s"expected >= 8 files, got ${stats.length}")
    val avgX = stats.map(_.getAs[Long]("xr")).sum.toDouble / stats.length
    val avgY = stats.map(_.getAs[Long]("yr")).sum.toDouble / stats.length
    // 16 z-tiles over a 64x64 grid ≈ 4x4 slabs: per-file range ~ 16 per
    // dim; a single-column sort would leave one of them at ~63
    assert(avgX < 32.0, s"x not clustered (avg per-file range $avgX of 63)")
    assert(avgY < 32.0, s"y not clustered (avg per-file range $avgY of 63)")
  }

  test("skippingReport: z-ordered layout shows far less envelope overlap than round-robin") {
    import org.apache.spark.sql.functions._
    val n = 4096L
    val df = spark.range(n)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      .repartition(8)
    val base = SparkEntry.tempDir("graft-skip").toString
    Sink.writeZOrdered(df.toDF(), s"$base/z", Seq("x", "y"), bits = 8, numFiles = 16)
    df.repartition(16).write.parquet(s"$base/rr") // round-robin: every file spans the range
    val zRep = Sink.skippingReport(spark, s"$base/z", Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val rrRep = Sink.skippingReport(spark, s"$base/rr", Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    Seq("x", "y").foreach { c =>
      assert(rrRep(c) > 0.9, s"round-robin $c should overlap nearly everywhere: ${rrRep(c)}")
      assert(zRep(c) < rrRep(c) / 2,
        s"z-order must at least halve $c overlap: z=${zRep(c)} rr=${rrRep(c)}")
    }
  }

  test("zOrderValue interleaves rank bits (hand-checked small case)") {
    import org.apache.spark.sql.functions._
    // 4 points at the corners of a 2x2 grid, bits=1: rank boundaries split
    // each dim at its median; z = y_bit<<1 | x_bit -> 0,1,2,3
    val df = Seq((0, 0), (1, 0), (0, 1), (1, 1)).toDF("x", "y")
    val z = Sink.zOrderValue(df, Seq("x", "y"), bits = 1)
      .orderBy("y", "x").select("x", "y", "__z").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(z.toSeq == Seq((0, 0, 0L), (1, 0, 1L), (0, 1, 2L), (1, 1, 3L)))
  }

  test("overwritePartitions replaces only the partitions present in the new data") {
    import org.apache.spark.sql.functions._
    val dir = SparkEntry.tempDir("graft-dynpart").toString + "/t"
    val full = Seq(("p1", 1), ("p1", 2), ("p2", 3), ("p3", 4)).toDF("part", "v")
    Sink.overwritePartitions(full, dir, Seq("part"))
    // re-publish ONLY p2 with corrected data
    val fixed = Seq(("p2", 30), ("p2", 31)).toDF("part", "v")
    Sink.overwritePartitions(fixed, dir, Seq("part"))
    val back = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[String]("part"), r.getAs[Int]("v"))).toSet
    // p1/p3 untouched, p2 replaced (not appended)
    assert(back == Set(("p1", 1), ("p1", 2), ("p2", 30), ("p2", 31), ("p3", 4)))
  }

  test("observed metrics accumulate during the action — no second pass") {
    import org.apache.spark.sql.functions._
    val df = Seq(1, 2, 3, 4, 5).toDF("v")
    val (observed, obs) = Sink.observed(
      df, "sink_audit",
      Seq("n" -> count(lit(1)), "sum_v" -> sum(col("v")), "nulls" -> count(when(col("v").isNull, 1))))
    val dir = SparkEntry.tempDir("graft-observe").toString + "/t"
    observed.write.mode("overwrite").parquet(dir)
    val m = obs.get
    assert(m("n") == 5L && m("sum_v") == 15L && m("nulls") == 0L, m.toString)
  }

  test("publishIfStale recomputes only when upstream moved forward") {
    val dir = SparkEntry.tempDir("graft-fresh").toString + "/t"
    var computes = 0
    def df = { computes += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    def write(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.mode("overwrite").parquet(dir)
    // first publish: no marker -> compute + write
    assert(Sink.publishIfStale(spark, dir, upstreamTs = 100L)(df)(write))
    assert(computes == 1)
    assert(spark.read.parquet(dir).count() == 2)
    // upstream unchanged -> skipped, thunk NEVER evaluated
    assert(!Sink.publishIfStale(spark, dir, upstreamTs = 100L)(df)(write))
    assert(computes == 1)
    // upstream older than recorded (clock skew / replay) -> still skipped
    assert(!Sink.publishIfStale(spark, dir, upstreamTs = 50L)(df)(write))
    assert(computes == 1)
    // upstream advanced -> recompute, marker rolls forward
    assert(Sink.publishIfStale(spark, dir, upstreamTs = 200L)(df)(write))
    assert(computes == 2)
    assert(!Sink.publishIfStale(spark, dir, upstreamTs = 200L)(df)(write))
    assert(computes == 2)
  }

  test("compactParquet merges a small-files directory losslessly") {
    import spark.implicits._
    val tmp = SparkEntry.tempDir("compact_spec_").getPath
    val df = (1L to 10000L).map(i => (i, s"payload-$i")).toDF("id", "v")
    df.repartition(64).write.mode("overwrite").parquet(tmp) // 64 tiny files
    val before = new java.io.File(tmp).listFiles.count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    // generous target -> everything fits one file
    val n = graft.operators.Sink.compactParquet(spark, tmp, targetFileBytes = 1L << 30)
    assert(n == 1)
    val after = new java.io.File(tmp).listFiles.count(_.getName.endsWith(".parquet"))
    assert(after == 1, s"expected 1 compacted file, got $after")
    val back = spark.read.parquet(tmp).orderBy("id")
      .as[(Long, String)].collect()
    assert(back.length == 10000 && back.head == ((1L, "payload-1")))
  }

  test("parquet bloom filters: written, audited, no false negatives, typo caught") {
    import graft.operators.Sink
    val dir = SparkEntry.tempDir("graft-bloom").toString + "/t"
    val df = (1L to 5000L).map(i => (i * 7919L % 1000003L, s"p$i"))
      .toDF("id", "payload")
    Sink.writeParquetWithBloom(df.repartition(2), dir, Seq("id"), ndv = 10000L)
    // audit: the bloom column is covered in every row group, the other is not
    val audit = Sink.bloomAudit(spark, dir, Seq("id", "payload"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit("id")._1 > 0 && audit("id")._2 == audit("id")._1,
      audit.toString)
    assert(audit("id")._3 > 0)
    assert(audit("payload")._2 == 0L)
    // no false negatives: every written value probes true
    val written = (1L to 200L).map(i => i * 7919L % 1000003L)
    val probes = Sink.bloomProbe(spark, dir, "id", written).collect()
    assert(probes.forall(_.getBoolean(1)), "bloom false negative")
    // absent values mostly probe false (~1% FPP)
    val absent = (1L to 200L).map(i => 2000000L + i)
    val misses = Sink.bloomProbe(spark, dir, "id", absent)
      .collect().count(!_.getBoolean(1))
    assert(misses > 150, s"expected most absent probes false, got $misses/200")
    // a mistyped column writes NOTHING — exactly what the audit catches
    val dir2 = SparkEntry.tempDir("graft-bloom2").toString + "/t"
    Sink.writeParquetWithBloom(df, dir2, Seq("id_typo"))
    val a2 = Sink.bloomAudit(spark, dir2, Seq("id")).head
    assert(a2.getLong(2) == 0L)
  }
}
