package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll

import graft.sources.Tables

class PipelineSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val recorder = new JobRecorder(spark)
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(recorder)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(recorder)

  /** A copy of `sf` under a temp directory whose lineitem table is `edit`
    * of the original; the tables the report joins are copied unchanged. */
  private def withLineitem(edit: DataFrame => DataFrame): String = {
    val dir = SparkEntry.tempDir("graft-pipeline-")
    Seq("orders", "customer", "nation", "region").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf, s"$t.parquet"), dir.toPath.resolve(s"$t.parquet"))
    }
    edit(Tables.lineitem(spark, sf)).write.parquet(s"$dir/lineitem.parquet")
    dir.toString
  }

  test("integrationReport produces a validated wide report at sf0.001") {
    val out = Pipeline.integrationReport(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // wide report shape: keys + 4 indicator cols + tax rollup
    assert(out.columns.toSeq ==
      Seq("period", "region", "nation", "a_f", "n_f", "n_o", "r_f", "tax_total"))
    // region/nation are normalized (lowercased, accent-free)
    assert(rows.forall(r => r.getString(1) == r.getString(1).toLowerCase))
    // rule matrix kept only consistent rows: A_F <= 2 * R_F wherever both exist
    rows.foreach { r =>
      val aF = Option(r.get(3)).map(_.asInstanceOf[Double])
      val rF = Option(r.get(6)).map(_.asInstanceOf[Double])
      (aF, rF) match {
        case (Some(a), Some(rf)) => assert(a <= rf * 2, s"inconsistent row survived: $r")
        case _ => ()
      }
    }
  }

  test("integrationReport runs 6 jobs per call") {
    Pipeline.integrationReport(spark, sf).collect()
    recorder.flush()
    recorder.clear()
    Pipeline.integrationReport(spark, sf).collect()
    recorder.flush()
    assert(recorder.jobs.size == 6, recorder.jobs)
  }

  test("integrationReport over an empty lineitem gives an empty report with the same columns") {
    val out = Pipeline.integrationReport(spark, withLineitem(_.limit(0)))
    assert(out.collect().isEmpty)
    assert(out.schema == Pipeline.integrationReport(spark, sf).schema)
  }

  test("integrationReport over all-null quantities and taxes gives NULL measures") {
    val out = Pipeline.integrationReport(spark, withLineitem(
      _.withColumn("l_quantity", lit(null).cast("double"))
        .withColumn("l_tax", lit(null).cast("double"))))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => (3 until 8).forall(r.isNullAt)), rows.take(3).mkString)
  }
}
