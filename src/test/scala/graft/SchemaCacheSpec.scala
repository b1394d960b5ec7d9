package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll

import graft.sources.Tables

/** `Tables` reads each parquet table's schema once per session: a repeat
  * read starts no job and resolves to the same columns as an inferring
  * read, a rewritten table is inferred again, and a new session starts
  * with an empty cache. */
class SchemaCacheSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val recorder = new JobRecorder(spark)
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(recorder)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(recorder)

  private val named: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.lineitem _, Tables.orders _, Tables.customer _, Tables.nation _, Tables.region _)

  /** Jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Seq[String] = {
    recorder.flush()
    recorder.clear()
    body
    recorder.flush()
    recorder.jobs
  }

  private def columns(df: DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  test("a second read of each table starts no job") {
    named.foreach(_(spark, sf))
    val jobs = jobsOf(named.foreach(_(spark, sf)))
    assert(jobs.isEmpty, jobs)
  }

  test("a cached read resolves to the same columns as an inferring read, for every table") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(tables.size >= named.size, tables)
    tables.foreach { t =>
      Tables.parquet(spark, sf, t)
      assert(columns(Tables.parquet(spark, sf, t)) ==
        columns(spark.read.parquet(s"$sf/$t.parquet")), t)
    }
  }

  test("a table rewritten with a different schema at the same path reads the new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_cache_").toFile
    try {
      import spark.implicits._
      val path = s"$dir/t.parquet"
      Seq((1L, "a")).toDF("k", "v").write.parquet(path)
      assert(Tables.parquet(spark, dir.getPath, "t").columns.toSeq == Seq("k", "v"))
      assert(Tables.parquet(spark, dir.getPath, "t").columns.toSeq == Seq("k", "v"))
      Seq((2.5, 3, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(path)
      val again = Tables.parquet(spark, dir.getPath, "t")
      assert(again.columns.toSeq == Seq("x", "y", "z"))
      assert(again.collect().toSeq.map(_.toSeq) == Seq(Seq(2.5, 3, true)))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
  }

  test("events' ts is a TIMESTAMP on a cached read too") {
    Tables.events(spark, sf)
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }

  test("a new session does not see the first session's schemas") {
    Tables.region(spark, sf)
    val other = spark.newSession()
    val jobs = jobsOf(Tables.region(other, sf))
    assert(recorder.parquetReads.size == 1, jobs)
    assert(jobsOf(Tables.region(other, sf)).isEmpty)
  }
}
