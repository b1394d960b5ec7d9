package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (sbt forks a single test
  * JVM; suites run sequentially), so Spark startup is paid once. */
object TestSpark {
  lazy val spark: SparkSession = {
    // keep catalog artifacts (warehouse, derby metastore) out of the repo;
    // the tree is deleted when the JVM exits. Not a SparkEntry.tempDir:
    // ExportSpec's deleteTempDirs() runs mid-suite, and the session's
    // warehouse and embedded Derby's home must outlive it.
    val scratchDir = java.nio.file.Files.createTempDirectory("graft-test").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(scratchDir))
    val scratch = scratchDir.toString
    System.setProperty("derby.system.home", scratch)
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier
  protected lazy val spark: SparkSession = TestSpark.spark
  protected def sf: String = TestSpark.Sf0001
}
