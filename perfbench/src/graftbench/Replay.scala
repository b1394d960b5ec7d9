package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators._
import graft.sources.Tables

/** Stage-by-stage replay of each workload's calls, run once per traced run:
  * every public operator the call composes is called on a materialized
  * input and its output is materialized inside a span, so the span's self
  * time is that operator's own work. The replayed result's digest must
  * equal the untraced call's; a mismatch means the replay no longer matches
  * what graft runs and fails the benchmark. */
object Replay {
  final class State(val c: CallCtx) {
    val spans = new Spans
    val digests = mutable.LinkedHashMap.empty[String, String]
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val kernels = mutable.LinkedHashMap.empty[String, Double]
    def s = c.spark
    def d = c.dir
    def digest(call: String, rows: Array[Row]): Unit = {
      c.results(call) = rows
      digests(call) = Digest.of(rows).toString
    }
  }

  private def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Rows per second of one kernel over a materialized input. */
  private def kernelRate(input: DataFrame, kernel: Column): Double = {
    val n = input.count()
    val t0 = System.nanoTime()
    input.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def run(workload: String, c: CallCtx): Map[String, Any] = {
    val st = new State(c)
    workload match {
      case "integrate" => integrate(st); partitionedExport(st)
      case "curate" => curate(st)
      case "ref-ops" =>
        partitionedExport(st)
        val names = st.spans("sources.scan")(mat(Tables.part(st.s, st.d).select("p_name")))
        st.kernels("normalize_text") = kernelRate(names, normalize_text(col("p_name")))
        val cust = st.spans("sources.scan")(mat(Tables.customer(st.s, st.d).select("c_name")))
        st.kernels("uuid5") = kernelRate(cust, uuid5(col("c_name")))
    }
    Map(
      "self_s" -> st.spans.selfSeconds, "digests" -> st.digests, "counts" -> st.counts,
      "kernels_rows_per_s" -> st.kernels, "spans" -> st.spans.records)
  }

  /** `Pipeline.integrationReport`, stage by stage (Pipeline.scala). */
  private def integrate(st: State): Unit = {
    val (s, d, span) = (st.s, st.d, st.spans)
    val (li, ord, cust, nat, reg) = span("sources.scan") {
      (mat(Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_linestatus",
        "l_quantity", "l_tax", "l_linenumber")),
        mat(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")),
        mat(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
        mat(Tables.nation(s, d)), mat(Tables.region(s, d)))
    }
    val enriched = span("Pipeline.integrationReport") {
      val srcA = li.filter(col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"), col("l_quantity"), col("l_tax"))
      val srcB = li.filter(col("l_linenumber") > 3)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      val unioned = span("operators.Relational.diagonalConcat")(mat(Relational.diagonalConcat(Seq(srcA, srcB))))
      val enriched = span("Pipeline.enrich")(mat(unioned
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))))
      val tagged = span("Pipeline.tag")(mat(enriched.select(
        date_format(col("o_orderdate"), "yyyyMM").as("period"),
        normalize_text(col("r_name")).as("region"),
        normalize_text(col("n_name")).as("nation"),
        concat(col("l_returnflag"), lit("_"), col("l_linestatus")).as("indicator"),
        col("l_quantity"),
        col("l_tax"))))
      val wide = span("operators.Reshape.pivotConditionalWide")(mat(Reshape.pivotConditionalWide(
        tagged,
        idCols = Seq("period", "region", "nation"),
        keyCol = "indicator",
        valueCol = col("l_quantity").cast("decimal(18,2)"),
        knownKeys = Seq("A_F", "N_F", "N_O", "R_F"),
        extraAggs = Seq(
          Relational.sumIfAnyNotNull(col("l_tax").cast("decimal(18,4)")) -> "tax_total"))))
      val rules = Seq(
        Rules.Rule("af_exceeds_rf", col("A_F") > col("R_F") * 2, 2, "RED"),
        Rules.Rule("nf_missing", col("N_F").isNull && col("N_O").isNotNull, 1, "ORANGE"))
      val consistent = span("operators.Rules.splitConsistent")(mat(Rules.splitConsistent(wide, rules)._1))
      st.digest("q_pipeline_e2e", span("Pipeline.report")(consistent.select(
        col("period"), col("region"), col("nation"),
        col("A_F").cast("double").as("a_f"),
        col("N_F").cast("double").as("n_f"),
        col("N_O").cast("double").as("n_o"),
        col("R_F").cast("double").as("r_f"),
        col("tax_total").cast("double").as("tax_total"))
        .orderBy("period", "region", "nation").collect()))
      enriched
    }
    st.kernels("normalize_text") = kernelRate(enriched.select("n_name"), normalize_text(col("n_name")))
  }

  /** `q_partitioned_export` (SparkEntry.scala), stage by stage. */
  private def partitionedExport(st: State): Unit = {
    val (s, d, span) = (st.s, st.d, st.spans)
    val orders = span("sources.scan")(mat(Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_totalprice")))
    val out = st.c.freshDir("export")
    span("operators.Sink.writePartitionedParquet") {
      Sink.writePartitionedParquet(
        orders.select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyyMM").as("period"),
          col("o_totalprice")).repartition(col("period")),
        "period", out)
    }
    st.digest("q_partitioned_export", span("stage.export_readback")(s.read.parquet(out)
      .select(col("o_orderkey"), col("period").cast("string").as("period"), col("o_totalprice"))
      .orderBy("o_orderkey").collect()))
    sinkFiles(st, out)
  }

  private def sinkFiles(st: State, out: String): Unit = {
    val (n, bytes) = Io.dataFiles(java.nio.file.Paths.get(out))
    st.counts("sink.files_written") = st.counts.getOrElse("sink.files_written", 0L) + n
    st.counts("sink.file_bytes") = st.counts.getOrElse("sink.file_bytes", 0L) + bytes
  }

  /** `q_llm_pipeline`, `q_dedup_minhash`, `q_llm_pipeline5` and the JSONL
    * export, stage by stage (SparkEntry.scala, Dedup.scala). */
  private def curate(st: State): Unit = {
    val (s, d, span) = (st.s, st.d, st.spans)
    val docs = span("sources.scan")(mat(Tables.documents(s, d).select("doc_id", "text", "lang")))

    val keepIds = docs
      .groupBy(md5(to_binary(lower(trim(col("text"))), lit("utf-8"))).as("__key"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val gated = span("stage.exact_dedup_gate")(mat(docs.join(keepIds, Seq("doc_id"), "left_semi")
      .filter(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).between(20, 2000))))
    val chunks = span("operators.TextAnalysis.chunkText")(
      mat(TextAnalysis.chunkText(gated, "doc_id", "text", size = 80, overlap = 20)))
    st.digest("q_llm_pipeline", span("stage.chunk_stats")(chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(length(col("chunk_text"))).as("total_chunk_chars"))
      .orderBy("doc_id").collect()))

    val pairs = span("operators.Dedup.minHashLsh")(mat(
      Dedup.minHashLsh(docs, "doc_id", "text", numHashes = 128, bands = 32, jaccardThreshold = 0.7)))
    st.digest("q_dedup_minhash", pairs.select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id1", "id2").collect())
    // the LSH candidates minHashLsh verifies: its band self-join, replayed
    val banded = span("operators.Dedup.minHashBands")(mat(
      Dedup.minHashBands(docs, "doc_id", "text", numHashes = 128, bands = 32)))
    val cands = span("stage.lsh_candidates")(mat(
      banded.select(col("doc_id").as("id1"), col("band"), col("band_key"))
        .join(banded.select(col("doc_id").as("id2"), col("band"), col("band_key")), Seq("band", "band_key"))
        .filter(col("id1") < col("id2")).select("id1", "id2").distinct()))
    st.counts("operators.Dedup.candidates") = cands.count()
    st.counts("operators.Dedup.verified") = pairs.count()
    val texts = docs.select(col("doc_id"), col("text"))
    st.kernels("minhash_sig") = kernelRate(texts.select("text"), minhash_sig(col("text"), 128, 3))
    val candTexts = mat(cands
      .join(texts.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(texts.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
      .select("t1", "t2"))
    st.kernels("ngram_jaccard") = kernelRate(candTexts, ngram_jaccard(col("t1"), col("t2"), 3))

    val scored = span("operators.TextAnalysis.knBigramPerplexity")(mat(TextAnalysis.knBigramPerplexity(
      docs, "doc_id", "text", ref = docs.filter(col("lang") === "en"), discount = 0.75)))
    val joined = span("stage.join_lang")(mat(scored.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("cross_entropy"))))
    val top = span("operators.Relational.topKPerKey")(mat(Relational.topKPerKey(
      joined, keyCols = Seq("lang"), sort = Seq("cross_entropy" -> false, "doc_id" -> false),
      k = 20, rankCol = Some("rnk"))))
    st.digest("q_llm_pipeline5", top.orderBy("lang", "rnk").collect())

    val survivors = span("stage.survivors")(mat(Workloads.survivors(st.c)))
    val out = st.c.freshDir("jsonl")
    span("operators.Sink.writeJsonl")(Sink.writeJsonl(survivors, out, Workloads.JsonlShards))
    st.digest("curate_export", Workloads.readJsonl(st.c, out).collect())
    sinkFiles(st, out)
  }
}
