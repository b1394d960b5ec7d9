package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Sink
import graft.sources.Tables

/** Row count plus an order-independent 64-bit hash of the rendered rows. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  def of(rows: Array[Row]): Digest = {
    var h = 0L
    rows.foreach { r =>
      val s = r.mkString("\u0001")
      val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      h += (a.toLong << 32) | (b.toLong & 0xffffffffL)
    }
    Digest(rows.length.toLong, h)
  }
}

/** What a call sees: the session, the fixture instance, a scratch directory
  * for its exports, and the results of the calls before it in the pass. */
final class CallCtx(val spark: SparkSession, val dir: String, val scratch: Path) {
  val results = scala.collection.mutable.Map.empty[String, Array[Row]]
  val schemas = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.StructType]
  private var n = 0
  def freshDir(prefix: String): String = { n += 1; scratch.resolve(s"$prefix-$n").toString }
}

/** One timed call into a graft entry point. `output` builds the result
  * frame (running any eager side effect, such as an export); the harness
  * collects it, so a call is timed from parquet input to the complete
  * result in the driver. `oracle` names the `SparkEntry.oracleSql` entry
  * that gates it at oracle scale. */
final case class Call(name: String, oracle: Option[String], output: CallCtx => DataFrame)

object Workloads {
  private def query(q: String): Call =
    Call(q, Some(q), c => SparkEntry.queries(q)(c.spark, c.dir))

  /** The 14 reference operators of BASELINE.md, each its own call. */
  val RefOps = Seq(
    "q_filter_project", "q_dim_join", "q_hierarchy_flatten", "q_pivot", "q_unpivot",
    "q_diagonal_union", "q_conditional_agg", "q_rules_flag", "q_fuzzy_match",
    "q_normalize_text", "q_deterministic_id_uuid5", "q_period_parse", "q_type_hygiene",
    "q_partitioned_export")

  /** Shards of the curate export. */
  val JsonlShards = 8

  /** The curate pass's last step: the documents that survive exact dedup and
    * the quality gate (the `q_llm_pipeline` output) minus the second member
    * of every near-duplicate pair (`q_dedup_minhash`), exported as JSONL
    * shards through `Sink.writeJsonl` and read back. */
  def survivors(c: CallCtx): DataFrame = {
    import c.spark.implicits._
    val kept = c.results("q_llm_pipeline").map(_.getLong(0)).toSeq.toDF("doc_id")
    val dropped = c.results("q_dedup_minhash").map(_.getLong(1)).toSeq.toDF("doc_id")
    Tables.documents(c.spark, c.dir).select("doc_id", "lang", "text")
      .join(broadcast(kept), Seq("doc_id"), "left_semi")
      .join(broadcast(dropped), Seq("doc_id"), "left_anti")
  }

  def readJsonl(c: CallCtx, path: String): DataFrame =
    c.spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(path)

  private val curateExport = Call("curate_export", None, { c =>
    val out = c.freshDir("jsonl")
    Sink.writeJsonl(survivors(c), out, JsonlShards)
    readJsonl(c, out)
  })

  def calls(workload: String): Seq[Call] = workload match {
    case "integrate" => Seq(query("q_pipeline_e2e"), query("q_partitioned_export"))
    case "curate" =>
      Seq(query("q_llm_pipeline"), query("q_dedup_minhash"), query("q_llm_pipeline5"), curateExport)
    case "ref-ops" => RefOps.map(query)
    case other => throw new IllegalArgumentException(s"unknown workload `$other`")
  }

  /** Calls planted by the benchmark's own failure test: one throws, one
    * returns a different result on every call. */
  def planted(kinds: Set[String]): Seq[Call] = {
    var flips = 0
    Seq(
      Call("planted_throw", None, _ => throw new IllegalStateException("planted failure")),
      Call("planted_mismatch", None, { c =>
        flips += 1
        c.spark.range(3).select((col("id") + lit(flips)).as("v"))
      })).filter(p => kinds(p.name.stripPrefix("planted_")))
  }
}
