package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.sources.Tables

/** `q_partitioned_export` writes on every core, one file per period, and
  * reads its partitioned output back without a partition-listing or a
  * schema-inference job; the other round trips declare the schema they
  * wrote too. */
class ExportSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val recorder = new JobRecorder(spark)
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(recorder)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(recorder)

  test("the export writes one task per core and one file per period, and lists no partitions in a job") {
    val periods = Tables.orders(spark, sf)
      .select(date_format(col("o_orderdate"), "yyyyMM")).distinct().count()
    // past the default parallel-listing threshold (32 paths)
    assert(periods > 32, s"fixture spans only $periods periods")
    recorder.clear()
    val out = SparkEntry.queries("q_partitioned_export")(spark, sf)
    out.collect()
    recorder.flush()

    val listing = recorder.jobs.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"partition-listing jobs: $listing")
    // the read-back declares the schema it wrote; orders' is cached
    assert(recorder.parquetReads.isEmpty, s"schema-inference jobs: ${recorder.parquetReads}")
    assert(recorder.writeStageTasks == Seq(spark.sparkContext.defaultParallelism))
    // the read-back's files are the written ones
    val files = out.inputFiles.toSeq
    assert(files.size == periods, files)
    assert(files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size == periods, files)
  }

  // compactParquet infers the schema of the directory it is handed
  for ((q, footerJobs) <- Seq(
      "q_compact_roundtrip" -> 1, "q_overwrite_partitions" -> 0, "q_zorder_layout" -> 0))
    test(s"$q reads back with the schema it wrote: $footerJobs schema-inference jobs") {
      SparkEntry.queries(q)(spark, sf).collect() // caches the source tables' schemas
      recorder.clear()
      SparkEntry.queries(q)(spark, sf).collect()
      recorder.flush()
      assert(recorder.parquetReads.size == footerJobs, recorder.parquetReads)
    }

  test("deleteTempDirs removes the export's whole output tree") {
    val out = SparkEntry.queries("q_partitioned_export")(spark, sf)
    val file = new java.io.File(new java.net.URI(out.inputFiles.head))
    val root = Iterator.iterate(file)(_.getParentFile)
      .find(_.getName.startsWith("graft_export_")).get
    assert(root.list().nonEmpty)
    SparkEntry.deleteTempDirs()
    assert(!root.exists(), root)
  }
}
