package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.Dedup

/** The curate model tables are each computed once per call: the bigram
  * scorers tokenize their English reference in one stage, collocations
  * tokenize the corpus in one stage, and the MinHash self-join signs each
  * document in one stage, read off every executed plan of the call (eager
  * checkpoints included; a reused exchange is not run again, so it is not
  * descended into). */
class ModelReuseSpec extends SparkSpec with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  private val marker = "model_reuse_spec_marker"
  private val executed = new ConcurrentLinkedQueue[QueryExecution]
  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executed.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  override def beforeAll(): Unit = spark.listenerManager.register(listener)
  override def afterAll(): Unit = spark.listenerManager.unregister(listener)

  /** The executed plans of every action one call of query `q` runs.
    * Listener events arrive in order, so once a marker action's event is
    * seen all earlier ones have been delivered. */
  private def plansOf(q: String): Seq[SparkPlan] = {
    executed.clear()
    SparkEntry.queries(q)(spark, sf).collect()
    spark.range(1).toDF(marker).collect()
    eventually(timeout(30.seconds), interval(20.millis)) {
      assert(executed.asScala.exists(_.analyzed.output.exists(_.name == marker)))
    }
    executed.asScala.filterNot(_.analyzed.output.exists(_.name == marker))
      .map(_.executedPlan).toSeq
  }

  private def isEnglishScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => s.dataFilters.exists(_.references.exists(_.name == "lang"))
    case _ => false
  }

  /** Tokenizing explodes that read the `lang = 'en'` reference scan. */
  private def referenceTokenizings(plans: Seq[SparkPlan]): Int =
    plans.map(p => collect(p) { case g: GenerateExec if find(g)(isEnglishScan).isDefined => g }
      .size).sum

  private def nodeExpressions(plans: Seq[SparkPlan]): Seq[Expression] =
    plans.flatMap(p => collect(p) { case n => n.expressions }.flatten)

  for (q <- Seq("q_kn_perplexity", "q_llm_pipeline5", "q_stupid_backoff"))
    test(s"$q tokenizes the English reference in one stage, the regex once per document") {
      val plans = plansOf(q)
      val n = referenceTokenizings(plans)
      assert(n == 1, s"$n tokenizing stages over ${plans.size} executed plans")
      val inferred = nodeExpressions(plans).map(_.toString)
        .filter(_.contains("size(regexp_extract_all("))
      assert(inferred.isEmpty, s"${inferred.size} expressions, e.g. ${inferred.take(1)}")
    }

  test("q_collocations tokenizes each document once") {
    val plans = plansOf("q_collocations")
    val n = plans.map(p => collect(p) { case g: GenerateExec => g }.size).sum
    assert(n == 1, s"$n tokenizing stages over ${plans.size} executed plans")
    val inferred = nodeExpressions(plans).map(_.toString)
      .filter(_.contains("size(regexp_extract_all("))
    assert(inferred.isEmpty, s"${inferred.size} expressions, e.g. ${inferred.take(1)}")
  }

  test("q_dedup_minhash signs each document in one stage") {
    val plans = plansOf("q_dedup_minhash")
    val signing = nodeExpressions(plans).count(_.find {
      case f: StaticInvoke => f.functionName == "minhashSig"
      case _ => false
    }.isDefined)
    assert(signing == 1, s"$signing signing sites over ${plans.size} executed plans")
  }

  test("minHashLsh on an empty and on a one-row frame returns no pair") {
    import spark.implicits._
    val one = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    assert(Dedup.minHashLsh(one.limit(0), "doc_id", "text").count() == 0)
    assert(Dedup.minHashLsh(one, "doc_id", "text").count() == 0)
    assert(Dedup.minHashLsh(one, "doc_id", "text", salts = 4).count() == 0)
  }
}
