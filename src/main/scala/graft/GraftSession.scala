package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Canonical session builder for graft entry points: every conf here is part
  * of the engine's contract (UTC semantics, AQE on, ns-parquet readable,
  * partitions listed on the driver, local files written without forking).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // runtime skew handling is part of the scale contract: a hot key in a
      // sort-merge join splits into subpartitions instead of stalling one
      // task (deterministic salting in Skew covers aggregates and the
      // joins AQE can't see)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r15 (guide §3.1/§9): let the planner pick shuffled-hash join when
      // its size guards hold (build side under autoBroadcastJoinThreshold ×
      // shuffle.partitions per partition and 3× smaller than the probe) —
      // skips the per-partition sort SMJ always pays. Size-guarded by plan
      // stats, scale-parameterised by the same two confs that already
      // govern broadcast/partitioning; AQE skew-split applies to SHJ too.
      // Measured on the 12 join-heavy tail queries at sf0.1: −4.5% total,
      // no per-query regression outside noise (OPTIMIZATION_r15.md).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // Spark keeps generated classes in ONE per-JVM cache of 100 entries
      // (4 LRU segments of ~25); a curate pass (dedup, quality gate, KN
      // perplexity, export) needs ~70, so they evicted each other and every
      // pass recompiled ~55 classes and re-JITted them. Static: it must be
      // set before the first compile, i.e. here.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // The cache is keyed by source text, and a whole-stage class's name
      // carries its stage id, which AQE assigns in the order concurrent
      // stages finish; with the id in the name, repeats of the KN queries
      // still recompiled 2-8 classes a round. Stack traces then name
      // `GeneratedIterator`.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // List partition directories on the driver. Past this many paths
      // (default 32) a read launches a listing job with one task per path,
      // and in local[N] those tasks list the same filesystem from the same
      // JVM, so the job adds only scheduling: on 4 CPUs, reading back a
      // 79-period export ran a 79-task job of 374 ms plus scheduling gaps.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      // the synthetic events table stores ns timestamps; read as long and
      // convert in sources.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Set `file:` permissions without forking `chmod` (GraftLocalFileSystem).
      // Explicit, because with Hive on the classpath `file:` otherwise
      // resolves through ServiceLoader to Hive's ProxyLocalFileSystem, which
      // forks the same `chmod`.
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Hadoop's checksummed local filesystem, with permissions set through NIO.
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and every `create` and `mkdirs` calls it: `q_partitioned_export`
  * at sf0.01 (80 periods) calls it 250 times, for the data files, their
  * `.crc` files and the directories. On 4 CPUs the integrate benchmark's
  * 79-period write stage took 2.4-2.7 s of task time with `chmod` and
  * 1.0-1.3 s through NIO. `.crc` files and checksum verification are
  * `LocalFileSystem`'s own.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission.values` is in mode-bit order, owner read (0400)
    * first. */
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 1 << (8 - i)) }

  class Raw extends RawLocalFileSystem {
    /** The 9 mode bits that Hadoop passes to `chmod`, applied through NIO.
      * A sticky bit, which NIO cannot set, or a filesystem without POSIX
      * attributes takes Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava)
    }
  }
}
