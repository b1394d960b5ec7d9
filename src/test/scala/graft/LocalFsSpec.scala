package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The session's `file:` filesystem is [[GraftLocalFileSystem]], and what it
  * writes carries the permissions Hadoop's stock `LocalFileSystem` gives. */
class LocalFsSpec extends SparkSpec {

  private val root = new java.net.URI("file:///")

  test("file: resolves to GraftLocalFileSystem through both Hadoop confs") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf()))
      assert(FileSystem.get(root, conf).getClass == classOf[GraftLocalFileSystem])
  }

  /** Every path under `dir` relative to it, with part files' job UUIDs
    * dropped, and its permissions. */
  private def perms(dir: JPath): Seq[(String, String)] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).map { p =>
      (dir.relativize(p).toString.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", ""),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toSeq.sorted
    finally walk.close()
  }

  test("the partitioned export's files, .crc files and directories get stock permissions") {
    val out = SparkEntry.queries("q_partitioned_export")(spark, sf)
    val file = java.nio.file.Paths.get(new java.net.URI(out.inputFiles.head))
    val written = Iterator.iterate(file)(_.getParent)
      .find(_.getFileName.toString == "orders_by_month").get
    // the same write into a sibling directory, through a fresh stock instance
    val stock = Map("fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val stockConf = spark.sessionState.newHadoopConfWithOptions(stock)
    assert(FileSystem.get(root, stockConf).getClass == classOf[LocalFileSystem])
    val sibling = written.resolveSibling("orders_by_month_stock")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyyMM").as("period"),
        col("o_totalprice"))
      .repartition(spark.sparkContext.defaultParallelism, col("period"))
      .write.options(stock).mode("overwrite").partitionBy("period").parquet(sibling.toString)

    val ours = perms(written)
    val kinds = ours.map(_._1).groupBy { p =>
      if (p.endsWith(".crc")) "crc" else if (p.endsWith(".parquet")) "data"
      else if (p.startsWith("period=")) "dir" else p
    }.map { case (k, v) => k -> v.size }
    val periods = out.select("period").distinct().count().toInt
    assert(kinds("data") == periods && kinds("dir") == periods && kinds("crc") > periods, kinds)
    assert(ours == perms(sibling))
  }

  test("a sticky-bit setPermission still sets the sticky bit") {
    val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    val dir = SparkEntry.tempDir("graft_localfs_").toPath
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1750", 8), mode(dir).toOctalString)
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("0705", 8).toShort))
    assert(mode(dir) == Integer.parseInt("0705", 8), mode(dir).toOctalString)
  }
}
