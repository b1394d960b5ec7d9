package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output sinks. Reference utils.py:395 `export_file` writes one CSV per
  * period value with a Python loop; graft uses Spark's native
  * `partitionBy` writer — one distributed job, one directory per value,
  * works at any cardinality/scale.
  */
object Sink {

  def writePartitionedCsv(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").partitionBy(partCol).csv(path)

  def writePartitionedParquet(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** JSON-lines shard export — the training-data interchange format: fixed
    * shard count via a round-robin repartition (uniform shard sizes
    * regardless of input skew, no shard-key small-files risk), one file per
    * shard. Binary columns base64-encode per JSON spec; timestamps are ISO
    * strings — round-trip with an explicit read schema when types matter. */
  def writeJsonl(df: DataFrame, path: String, shards: Int): Unit =
    writeJsonl(df, path, shards, codec = "none")

  /** [[writeJsonl]] with a compression codec (`gzip` | `bzip2` | `lz4` |
    * `deflate` | `none`) — the wire format training corpora actually ship
    * in (`.jsonl.gz` / `.jsonl.bz2`). Spark reads the compressed shards
    * back transparently by extension; splittability is the trade to know:
    * gzip shards are one task each on read (bzip2 is block-splittable), so
    * the SHARD COUNT (not file size) is the read parallelism — size
    * shards to cores. */
  def writeJsonl(df: DataFrame, path: String, shards: Int, codec: String): Unit =
    df.repartition(shards).write.mode("overwrite")
      .option("compression", codec).json(path)

  /** Compact a parquet directory toward a target file size — the
    * small-files remedy: a streaming ingest or over-parallel write leaves
    * thousands of KB-sized files whose open/footer overhead dominates reads
    * at scale. One pass: size the input from the file index (no data read),
    * rewrite with `coalesce(ceil(bytes/target))` — coalesce, not
    * repartition, so compaction itself shuffles nothing. Returns the new
    * file count. The read infers the schema (one footer job): `path` was
    * written by someone else, so its schema is not known here. */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    spark.read.parquet(path).coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path))
    nFiles
  }

  /** Source-freshness gate — the reference's `last_analytics_update`
    * skip-recompute pattern (update_pnls_report/utils.py:24-40): probe the
    * upstream system's last-updated timestamp, compare it to the timestamp
    * recorded alongside the last published output, and skip the recompute
    * entirely when nothing changed upstream. The recorded timestamp lives
    * in a `_upstream_ts` marker file next to the output (Hadoop FS API, so
    * it works on any filesystem the output does); the compute thunk is
    * call-by-name and never evaluated on the skip path — no job, no scan,
    * no cluster time.
    *
    * @param upstreamTs the probed upstream last-updated time (epoch millis
    *                   or any monotone version number)
    * @param write      how to publish (e.g. `writePartitionedParquet(_, c, path)`)
    * @return true if the output was (re)published, false if skipped fresh
    */
  def publishIfStale(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      upstreamTs: Long)(df: => DataFrame)(write: DataFrame => Unit): Boolean = {
    import java.nio.charset.StandardCharsets
    import org.apache.hadoop.fs.Path
    val marker = new Path(path.stripSuffix("/") + "_upstream_ts")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recorded: Option[Long] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try {
          // read to EOF — a single read() may return a prefix on non-local FS,
          // and a truncated numeric prefix would parse to a smaller value
          val acc = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](256)
          var n = in.read(tmp)
          while (n >= 0) { acc.write(tmp, 0, n); n = in.read(tmp) }
          Some(new String(acc.toByteArray, StandardCharsets.UTF_8).trim.toLong)
        } catch { case _: NumberFormatException => None }
        finally in.close()
      }
    if (recorded.exists(_ >= upstreamTs)) false
    else {
      write(df)
      val out = fs.create(marker, true)
      try out.write(upstreamTs.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      true
    }
  }

  /** Overwrite ONLY the partitions present in `df` (dynamic partition
    * overwrite), leaving every other partition untouched — the incremental
    * re-publish pattern: a late-arriving day reprocesses and replaces its
    * own directory while the other 10,000 days stay put. Static overwrite
    * mode (the default) would drop the whole table first. */
  def overwritePartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Attach zero-cost observed metrics to a frame: the metrics accumulate
    * DURING whatever action runs next (a write, a count) — no second pass
    * over the data, the standard row-count/invariant audit on a production
    * sink. Read the result from the returned `Observation` after the
    * action completes. */
  def observed(
      df: DataFrame,
      name: String,
      metrics: Seq[(String, Column)]): (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "need at least one metric")
    val obs = org.apache.spark.sql.Observation(name)
    val cols = metrics.map { case (n, c) => c.as(n) }
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }

  /** Morton (Z-order) key over `zCols`: each column is quantile-bucketed
    * into 2^`bits` ranks (one shared approx-percentile aggregate, bounds
    * broadcast back as a 1-row cross join — no driver collect), then the
    * rank bits interleave into one long. Rows close in z share prefixes of
    * EVERY dimension's rank — the multi-column locality that makes parquet
    * min/max pruning effective on all z columns at once, where a plain sort
    * only serves its leading column. Everything is a codegen'd projection;
    * null values rank 0. */
  def zOrderValue(df: DataFrame, zCols: Seq[String], bits: Int = 8): DataFrame = {
    require(zCols.nonEmpty, "zOrderValue needs at least one column")
    require(bits >= 1 && bits * zCols.size <= 60, s"bits*cols must fit a long, got $bits*${zCols.size}")
    val nBuckets = 1 << bits
    val probs = array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*)
    val boundAggs = zCols.map(c =>
      percentile_approx(col(c).cast("double"), probs, lit(10000)).as(s"__bnd_$c"))
    val bounds = df.agg(boundAggs.head, boundAggs.tail: _*)
    // rank = number of boundaries strictly below v — a native binary-search
    // expression (strict, so values equal to the lowest boundary stay in
    // bucket 0). NOT a higher-order aggregate() fold: HOF lambdas run
    // interpreted and made this 40x slower at sf0.1.
    val withRanks = df.crossJoin(broadcast(bounds))
    val ranks = zCols.map { c =>
      graft.functions.rank_below(col(s"__bnd_$c"), col(c))
    }
    val n = zCols.size
    val terms = for {
      bit <- 0 until bits
      (r, j) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r, bit).bitwiseAND(lit(1L)), bit * n + j)
    withRanks
      .withColumn("__z", terms.reduce[Column](_ bitwiseOR _))
      .drop(zCols.map(c => s"__bnd_$c"): _*)
  }

  /** Write `df` clustered by the Z-order of `zCols` into `numFiles` files:
    * range-partition on the z key (so files tile the z curve) and sort
    * within each partition. At 100 TB this is the data-layout lever: scans
    * filtering on ANY subset of the z columns prune most files from the
    * parquet min/max index alone, no matter which column leads. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      bits: Int = 8,
      numFiles: Int = 16): Unit =
    zOrderValue(df, zCols, bits)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Bucketed managed table: pre-shuffles rows into `nBuckets` hash buckets
    * on `bucketCols` at write time. Two tables bucketed the same way join
    * WITHOUT a shuffle (co-located sort-merge) — at 100 TB this moves the
    * fact-join shuffle from every query to a one-time write. Requires the
    * session catalog (`saveAsTable`); see SinkSpec for the shuffle-free
    * join assertion. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    var w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    // explicit location -> external table: bucketed data lands where the
    // caller says (e.g. a temp dir) instead of the session warehouse
    path.foreach(p => w = w.option("path", p))
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Data-skipping effectiveness audit over a written parquet directory:
    * per-file [min, max] envelopes for the given NUMERIC columns read from
    * the parquet FOOTERS only (no data scan — this is a metadata operation,
    * constant in row count), then, per column, the fraction of file pairs
    * whose envelopes overlap. A point query prunes to one file when
    * envelopes are disjoint; `overlap_fraction` ≈ 1.0 means every file
    * spans the full value range (a round-robin write — zero pruning),
    * while a well-clustered layout ([[writeZOrdered]], a sorted write)
    * drives it toward 0. This is the measurable form of X47's Z-order
    * claim — run it after a layout change to prove the clustering landed.
    * Driver-side over file METADATA (one footer per file, the same scale
    * as any parquet planner's split enumeration). */
  def skippingReport(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    require(cols.nonEmpty, "skippingReport needs at least one column")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    def toD(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None // non-numeric stats (binary/string) are out of scope
    }
    val envelopes: Seq[(String, String, Double, Double)] = files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        cols.flatMap { c =>
          val stats = blocks.flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == c)
            .flatMap(ch => Option(ch.getStatistics))
            .filter(s => s.hasNonNullValue)
          val mins = stats.flatMap(s => toD(s.genericGetMin))
          val maxs = stats.flatMap(s => toD(s.genericGetMax))
          if (mins.nonEmpty && maxs.nonEmpty) Some((f.getName, c, mins.min, maxs.max))
          else None
        }
      } finally reader.close()
    }
    val rows = cols.map { c =>
      val env = envelopes.filter(_._2 == c).map(e => (e._3, e._4)).sortBy(_._1)
      val n = env.length
      // sweep over min-sorted envelopes: pair (i, j>i) overlaps iff
      // min_j <= max_i — O(F log F + #overlaps), F = file count (metadata
      // scale; the inner scan only visits actual overlaps)
      var overlaps = 0L
      env.zipWithIndex.foreach { case ((_, mx), i) =>
        var j = i + 1
        while (j < n && env(j)._1 <= mx) { overlaps += 1; j += 1 }
      }
      val pairs = n.toLong * (n - 1) / 2
      (c, n.toLong, overlaps, if (pairs == 0) 0.0 else overlaps.toDouble / pairs)
    }
    import spark.implicits._
    rows.toDF("column", "n_files", "n_overlap_pairs", "overlap_fraction")
  }

  /** Write parquet with per-column BLOOM FILTERS (parquet-mr's split-block
    * blooms, public parquet format §BloomFilter) — the point-lookup
    * skipping index the min/max envelopes of [[writeZOrdered]] cannot
    * give: range stats prune ranges, blooms prune EQUALITY probes on
    * high-cardinality unsorted columns (user_id, order key), which is
    * exactly the 100 TB needle-in-haystack read. `ndv` sizes the filter
    * (parquet-mr derives bits from expected distinct values at ~1% FPP). */
  def writeParquetWithBloom(
      df: DataFrame,
      path: String,
      bloomCols: Seq[String],
      ndv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty, "writeParquetWithBloom needs at least one column")
    require(ndv > 0, s"ndv must be > 0, got $ndv")
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (acc, c) =>
      acc
        .option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(path)
  }

  /** Footer-level bloom-filter audit of a parquet directory — verifies the
    * skipping index actually materialized (a mistyped column name writes
    * NOTHING, silently) and how much it costs: per column, row-group
    * coverage and total filter bytes, read from footers + filter headers
    * only (metadata-scale, no data scan — the [[skippingReport]]
    * discipline). */
  def bloomAudit(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    require(cols.nonEmpty, "bloomAudit needs at least one column")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    val perCol = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          val bfReader = reader.getBloomFilterDataReader(block)
          block.getColumns.asScala.foreach { ch =>
            val name = ch.getPath.toDotString
            if (cols.contains(name)) {
              val (rg, withBf, bytes) = perCol.getOrElse(name, (0L, 0L, 0L))
              val bf = if (ch.getBloomFilterOffset >= 0)
                Option(bfReader.readBloomFilter(ch)) else None
              perCol(name) = (rg + 1,
                withBf + (if (bf.isDefined) 1L else 0L),
                bytes + bf.map(_.getBitsetSize.toLong).getOrElse(0L))
            }
          }
        }
      } finally reader.close()
    }
    import spark.implicits._
    cols.map { c =>
      val (rg, withBf, bytes) = perCol.getOrElse(c, (0L, 0L, 0L))
      (c, rg, withBf, bytes)
    }.toDF("column", "n_rowgroups", "n_with_bloom", "bloom_bytes")
  }

  /** Probe a written bloom filter: for each long `value`, does ANY row
    * group's filter on `column` claim it might be present? The contract
    * under test is NO FALSE NEGATIVES — a value that was written must
    * always probe true; absent values probe false at ~the configured FPP.
    * Footer + filter reads only. */
  def bloomProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      column: String,
      values: Seq[Long]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    val hits = scala.collection.mutable.Map.empty[Long, Boolean]
    values.foreach(v => hits(v) = false)
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          val bfReader = reader.getBloomFilterDataReader(block)
          block.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .filter(_.getBloomFilterOffset >= 0)
            .foreach { ch =>
              Option(bfReader.readBloomFilter(ch)).foreach { bf =>
                values.foreach { v =>
                  if (bf.findHash(bf.hash(v))) hits(v) = true
                }
              }
            }
        }
      } finally reader.close()
    }
    import spark.implicits._
    values.map(v => (v, hits(v))).toDF("value", "might_contain")
  }
}
