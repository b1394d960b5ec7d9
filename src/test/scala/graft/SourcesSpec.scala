package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv source round-trips typed rows with header + schema inference") {
    val dir = SparkEntry.tempDir("graft-csv").toString + "/out"
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0)).toDF("id", "name", "score")
    df.write.option("header", "true").csv(dir)
    val back = Tables.csv(spark, dir).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getAs[String]("name") == "alpha")
    assert(back(1).getAs[Double]("score") == -2.0)
  }

  test("jdbc round-trips typed rows via embedded Derby; partitioned read slices by key") {
    import graft.sources.Jdbc
    val dir = SparkEntry.tempDir("graft-jdbc").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val url = s"jdbc:derby:$dir/db;create=true"
    val df = (1L to 20L).map(i => (i, s"name_$i", i.toInt * 10, i * 1.5)).toDF("id", "name", "n", "score")
    Jdbc.write(df, url, "t")
    // single-connection read: full fidelity across long/string/int/double
    val back = Jdbc.read(spark, url, "t").orderBy("id").collect()
    assert(back.length == 20)
    assert(back(4).getAs[Long]("id") == 5L && back(4).getAs[String]("name") == "name_5")
    assert(back(4).getAs[Int]("n") == 50 && back(4).getAs[Double]("score") == 7.5)
    // partitioned read: 4 key slices, same rows, one task per slice
    val par = Jdbc.readPartitioned(spark, url, "t", "id", 1L, 20L, numPartitions = 4)
    assert(par.rdd.getNumPartitions == 4)
    assert(par.orderBy("id").collect().toSeq == back.toSeq)
    // overwrite-publish replaces, never appends
    Jdbc.write(df.filter(col("id") <= 3), url, "t")
    assert(Jdbc.read(spark, url, "t").count() == 3)
  }

  test("jsonLines source reads nested records") {
    val dir = SparkEntry.tempDir("graft-jsonl").toString + "/out"
    Seq("""{"id":1,"meta":{"lang":"en","tags":["a","b"]}}""",
      """{"id":2,"meta":{"lang":"fr","tags":[]}}""").toDF("value")
      .write.text(dir)
    val back = Tables.jsonLines(spark, dir).orderBy("id")
    assert(back.count() == 2)
    assert(back.select(col("meta.lang")).collect().map(_.getString(0)).toSeq == Seq("en", "fr"))
    assert(back.select(size(col("meta.tags"))).head.getInt(0) == 2)
  }

  test("csvGrid skips leading decoration rows before the real header") {
    val dir = SparkEntry.tempDir("graft-grid").toString + "/sheet"
    Seq("Rapport PNLS — T4", "Region: Centre", "site,indicateur,valeur",
      "s1,tx_new,10", "s2,tx_new,12").toDF("value").coalesce(1).write.text(dir)
    val back = Tables.csvGrid(spark, dir, skipLines = 2).orderBy("site").collect()
    assert(back.length == 2)
    assert(back(0).getAs[String]("site") == "s1")
    assert(back(0).getAs[Int]("valeur") == 10)
  }

  test("csvGrid keeps body rows that equal the header line (positional skip, not value filter)") {
    val dir = SparkEntry.tempDir("graft-grid2").toString + "/sheet"
    // second body row is byte-identical to the header — must survive
    Seq("TITLE", "a,b", "a,b", "x,y").toDF("value").coalesce(1).write.text(dir)
    val back = Tables.csvGrid(spark, dir, skipLines = 1).orderBy("a").collect()
    assert(back.length == 2)
    assert(back.map(_.getString(0)).sorted.toSeq == Seq("a", "x"))
  }

  test("csvGrid reads multiple files, skipping decoration per file") {
    val dir = SparkEntry.tempDir("graft-grid3").toString + "/sheets"
    Seq("junk1", "site,v", "s1,1").toDF("value").coalesce(1)
      .write.text(dir + "/f1")
    Seq("junk2", "site,v", "s2,2").toDF("value").coalesce(1)
      .write.text(dir + "/f2")
    val back = Tables.csvGrid(spark, dir + "/*/", skipLines = 1).orderBy("site").collect()
    assert(back.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq("s1" -> 1, "s2" -> 2))
  }

  test("xlsx round-trips a typed grid through write + grid read") {
    import graft.sources.Xlsx
    val path = SparkEntry.tempDir("graft-xlsx").toString + "/wb.xlsx"
    Xlsx.write(path, Seq(
      Seq[Any]("DECORATION", null),
      Seq[Any]("name", "score"),
      Seq[Any]("alpha", 1.5),
      Seq[Any]("beta", -2.0)))
    val back = Xlsx.grid(spark, path, skipRows = 1).orderBy("name").collect()
    assert(back.length == 2)
    assert(back(0).getString(0) == "alpha")
    assert(back(0).getString(1) == "1.5")
  }

  test("xlsx reader restores sparse cells and skipped empty rows positionally") {
    import graft.sources.Xlsx
    val path = SparkEntry.tempDir("graft-xlsx2").toString + "/wb.xlsx"
    // row 2 entirely empty (gap), row 3 has only column C populated
    Xlsx.write(path, Seq(
      Seq[Any]("a", "b", "c"),
      Seq[Any](null, null, null),
      Seq[Any](null, null, "only-c")))
    val back = Xlsx.grid(spark, path, skipRows = 0).collect()
    assert(back.length == 2)
    assert(back(0).isNullAt(0) && back(0).isNullAt(2))
    assert(back(1).isNullAt(0) && back(1).getString(2) == "only-c")
  }

  test("xlsx reader fans out across multiple workbooks (one task per file)") {
    import graft.sources.Xlsx
    val dir = SparkEntry.tempDir("graft-xlsx3").toString
    Xlsx.write(s"$dir/site1.xlsx", Seq(Seq[Any]("site", "v"), Seq[Any]("s1", 1)))
    Xlsx.write(s"$dir/site2.xlsx", Seq(Seq[Any]("site", "v"), Seq[Any]("s2", 2)))
    val df = Xlsx.grid(spark, dir, skipRows = 0)
    assert(df.rdd.getNumPartitions >= 1)
    assert(df.orderBy("site").collect().map(_.getString(0)).toSeq == Seq("s1", "s2"))
  }

  test("xlsx reader concatenates inlineStr rich-text runs like sharedStrings") {
    import graft.sources.Xlsx
    import java.util.zip.{ZipEntry, ZipOutputStream}
    // hand-built workbook: inline strings split into multiple <r> runs, the
    // shape Excel produces when part of a cell is bold/colored
    val path = SparkEntry.tempDir("graft-xlsx4").toString + "/rich.xlsx"
    val sheet =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><r><t>na</t></r><r><t>me</t></r></is></c>
        |<c r="B1" t="inlineStr"><is><t>v</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><r><t>a</t></r><r><t>b</t></r><r><t>c</t></r></is></c>
        |<c r="B2"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    zos.write(sheet.getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val back = Xlsx.grid(spark, path, skipRows = 0).collect()
    assert(back.length == 1)
    assert(back(0).getString(0) == "abc", "rich-text runs must concatenate, not keep the last")
    assert(back(0).getString(1) == "7")
    val header = Xlsx.grid(spark, path, skipRows = 0).columns.toSeq
    assert(header == Seq("name", "v"))
  }

  test("xlsx reader resolves sheets by display name like the reference's sheet_name=") {
    import graft.sources.Xlsx
    val path = SparkEntry.tempDir("graft-xlsx5").toString + "/wb.xlsx"
    Xlsx.write(path, Seq(Seq[Any]("k", "v"), Seq[Any]("a", 1)))
    // the writer names its sheet "Sheet1"; both the part name and the
    // display name must reach the same grid
    val byPart = Xlsx.grid(spark, path, skipRows = 0).collect()
    val byName = Xlsx.grid(spark, path, skipRows = 0, sheet = "Sheet1").collect()
    assert(byPart.map(_.toSeq).toSeq == byName.map(_.toSeq).toSeq)
    val ex = intercept[Exception](Xlsx.grid(spark, path, skipRows = 0, sheet = "NoSuch").collect())
    assert(ex.getMessage != null)
  }

  test("xlsx column-letter math: AA follows Z") {
    import graft.sources.Xlsx
    assert(Xlsx.colIndex("Z1") == 25 && Xlsx.colIndex("AA1") == 26 && Xlsx.colIndex("BC23") == 54)
    assert(Xlsx.colLetters(25) == "Z" && Xlsx.colLetters(26) == "AA" && Xlsx.colLetters(54) == "BC")
  }

  test("resolveColumns fixes misspelled and accented headers against expected names") {
    import graft.operators.Relational
    val messy = Seq(("x", 1, 2.0)).toDF("Établissement-Sanitaire", "periode", "Taux VIH")
    val fixed = Relational.resolveColumns(
      messy, expected = Seq("etablissement sanitaire", "periode", "taux vih"))
    assert(fixed.columns.toSeq == Seq("etablissement sanitaire", "periode", "taux vih"))
  }

  test("resolveColumns leaves sub-threshold columns untouched and consumes each once") {
    import graft.operators.Relational
    val df = Seq((1, 2)).toDF("alpha", "unrelated")
    val out = Relational.resolveColumns(df, Seq("alpha", "beta"), threshold = 95)
    assert(out.columns.toSeq == Seq("alpha", "unrelated"))
    // an exact hit must not be stolen by an earlier fuzzy expected name
    val df2 = Seq((1, 2)).toDF("site id", "site_id")
    val out2 = Relational.resolveColumns(df2, Seq("site_id", "site id"))
    assert(out2.columns.toSet == Set("site_id", "site id"))
  }

  test("resolveColumns makes messy xlsx headers ingestible end-to-end") {
    import graft.operators.Relational
    import graft.sources.Xlsx
    val path = SparkEntry.tempDir("graft-xlsx-h").toString + "/chu.xlsx"
    Xlsx.write(path, Seq(
      Seq[Any]("Étàblissement—Sanitaire", "Périodes"),
      Seq[Any]("chu-a", "2024Q1")))
    val resolved = Relational.resolveColumns(
      Xlsx.grid(spark, path, skipRows = 0),
      expected = Seq("etablissement sanitaire", "periode"),
      threshold = 80)
    assert(resolved.columns.contains("etablissement sanitaire"))
    assert(resolved.select("etablissement sanitaire").head.getString(0) == "chu-a")
  }

  test("auto dispatches by file extension with a clear error otherwise") {
    import graft.sources.{Tables => T, Xlsx}
    val dir = SparkEntry.tempDir("graft-auto").toString
    // parquet
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    assert(T.auto(spark, s"$dir/t.parquet").count() == 1)
    // csv
    Seq("id,v", "2,b").toDF("value").coalesce(1).write.text(s"$dir/t.csv")
    assert(T.auto(spark, s"$dir/t.csv").select("v").head.getString(0) == "b")
    // xlsx
    Xlsx.write(s"$dir/t.xlsx", Seq(Seq[Any]("id", "v"), Seq[Any](3, "c")))
    assert(T.auto(spark, s"$dir/t.xlsx").select("v").head.getString(0) == "c")
    // orc
    Seq((4L, "d")).toDF("id", "v").write.orc(s"$dir/t.orc")
    assert(T.auto(spark, s"$dir/t.orc").select("v").head.getString(0) == "d")
    // json lines
    Seq((5L, "e")).toDF("id", "v").write.json(s"$dir/t.json")
    assert(T.auto(spark, s"$dir/t.json").select("v").head.getString(0) == "e")
    // unsupported
    val ex = intercept[IllegalArgumentException](T.auto(spark, s"$dir/t.tsv"))
    assert(ex.getMessage.contains("parquet") && ex.getMessage.contains(".tsv"))
    val ex2 = intercept[IllegalArgumentException](T.auto(spark, s"$dir/noext"))
    assert(ex2.getMessage.contains("no extension"))
  }

  test("xlsx round-trips XML-hostile cell content (escapes, quotes, unicode) — 200-case fuzz") {
    import graft.sources.Xlsx
    val r = new scala.util.Random(37)
    val pool = "<>&\"' \népsilon€λ=1+2;ab,0"
    val rows = Seq(Seq[Any]("h1", "h2")) ++ (1 to 200).map { i =>
      Seq[Any](
        Seq.fill(1 + r.nextInt(12))(pool(r.nextInt(pool.length))).mkString,
        s"v$i")
    }
    val dir = SparkEntry.tempDir("graft-xlsx-fuzz").toString
    Xlsx.write(s"$dir/fuzz.xlsx", rows)
    val back = graft.sources.Xlsx.grid(spark, s"$dir/fuzz.xlsx", skipRows = 0)
      .orderBy(col("h2"))
      .collect().map(r0 => (r0.getString(0), r0.getString(1)))
    val expected = rows.drop(1)
      .map(s => (s(0).toString, s(1).toString))
      .sortBy(_._2)
    // the reader normalizes newlines like Excel does? it must preserve them;
    // compare exactly
    assert(back.toSeq == expected, "xlsx writer/reader lost or mangled hostile content")
  }

  test("csvWithQuarantine routes malformed lines to the dead-letter side, keeps clean rows typed") {
    import org.apache.spark.sql.types._
    val dir = SparkEntry.tempDir("graft-quarantine").toString
    Seq(
      "id,score",
      "1,10.5",
      "2,not_a_number", // unparseable double
      "3,7.25")
      .toDF("value").coalesce(1).write.text(s"$dir/in.csv")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType)))
    val (good, bad) = Tables.csvWithQuarantine(spark, s"$dir/in.csv", schema)
    val g = good.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(g.toSeq == Seq((1L, 10.5), (3L, 7.25)))
    val b = bad.collect()
    assert(b.length == 1)
    assert(b(0).getString(0) == "2,not_a_number")
    assert(b(0).getString(1).endsWith("in.csv/" + new java.io.File(s"$dir/in.csv").list().filter(_.endsWith(".txt")).head))
  }

  test("jsonWithQuarantine routes malformed lines to the dead-letter side, keeps clean rows typed") {
    import org.apache.spark.sql.types._
    val dir = SparkEntry.tempDir("graft-jquarantine").toString
    Seq(
      """{"id": 1, "score": 10.5}""",
      """{"id": 2, "score": """, // truncated JSON
      """not json at all""",
      """{"id": 3, "score": 7.25}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in.jsonl")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType)))
    val (good, bad) = Tables.jsonWithQuarantine(spark, s"$dir/in.jsonl", schema)
    val g = good.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(g.toSeq == Seq((1L, 10.5), (3L, 7.25)))
    val b = bad.collect().map(_.getString(0)).sorted
    assert(b.length == 2)
    assert(b.contains("not json at all"))
    assert(bad.collect().forall(_.getString(1).contains("in.jsonl")))
  }

  test("xml roundtrip preserves typed rows including XML-hostile strings") {
    val tmp = SparkEntry.tempDir("graft_xml_spec_")
    val path = new java.io.File(tmp, "rows").getPath
    val df = Seq(
      (1L, "plain", 1.5),
      (2L, "<tag> & \"quoted\" 'text'", -2.25),
      (3L, "unicode ünïcødé ☃", 0.0)).toDF("k", "s", "x")
    graft.sources.Xml.write(df, path, rootTag = "rows", rowTag = "row")
    val back = graft.sources.Xml.read(spark, path, rowTag = "row")
      .select(col("k").cast("long"), col("s").cast("string"), col("x").cast("double"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(back.toSeq == Seq(
      (1L, "plain", 1.5),
      (2L, "<tag> & \"quoted\" 'text'", -2.25),
      (3L, "unicode ünïcødé ☃", 0.0)))
  }

  test("parquet named accessors expose the full star schema") {
    assert(Tables.lineitem(spark, sf).count() > 0)
    assert(Tables.nation(spark, sf).count() == 25)
    assert(Tables.region(spark, sf).count() == 5)
    // events ns-timestamp handling: ts must surface as a real timestamp
    assert(Tables.events(spark, sf).schema("ts").dataType.typeName == "timestamp")
  }

  test("fixed-width roundtrip preserves values; nulls pad to blanks and read back null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType}
    val tmp = SparkEntry.tempDir("graft_fw_spec_")
    val path = new java.io.File(tmp, "fw").getPath
    val df = Seq(
      (1L, "AB", Some(42L)),
      (22L, "C", None),                 // short string pads; null -> blanks
      (333L, "", Some(-7L)))            // empty string; negative number
      .toDF("k", "tag", "n")
    graft.sources.FixedWidth.write(df, path, Seq("k" -> 6, "tag" -> 3, "n" -> 5))
    val back = graft.sources.FixedWidth.read(spark, path,
      Seq(("k", 6, LongType), ("tag", 3, StringType), ("n", 5, LongType)))
      .orderBy("k").collect()
    assert(back.toSeq == Seq(
      Row(1L, "AB", 42L), Row(22L, "C", null), Row(333L, null, -7L)))
    // every written line has the exact declared record length
    val lines = spark.read.text(path).collect().map(_.getString(0))
    assert(lines.forall(_.length == 14), lines.mkString("|"))
  }
}
