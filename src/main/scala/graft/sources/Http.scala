package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** HTTP row source — the reference pulls NAOMI rows from a paginated REST
  * API, one `requests.get` per (indicator, age, sex, period) combination
  * (extract_naomi_data.py:37,72-75).
  *
  * graft shape: the caller declares the request fan-out as DATA — a
  * DataFrame with a URL column, typically built by cross-joining the
  * combination dimensions (exactly the reference's nested loops, as a plan)
  * — and [[fetch]] executes the requests partition-wise on the executors:
  * each partition shares one keep-alive client, so a million-URL crawl
  * spreads over the cluster with per-task connection reuse and no driver
  * bottleneck. Responses come back as rows (status, body) to be parsed
  * declaratively (`from_json` + explode), keeping the only imperative part
  * — the socket I/O Spark has no operator for — inside one narrow
  * `mapPartitions`.
  *
  * Retries with exponential backoff happen per request inside the task
  * (5xx and connect errors; 4xx is the server's final answer). Exhausted
  * retries yield a row with status = -1 and the error message as body, so
  * one dead endpoint can't kill a million-row crawl — filter
  * `status = 200` downstream.
  */
object Http extends Logging {

  /** Fetch every URL in `df(urlCol)`, appending `status: int` and
    * `body: string` columns.
    *
    * @param timeoutMs  per-request timeout
    * @param retries    attempts per URL (>=1); 5xx / transport errors retry
    * @param backoffMs  base backoff, doubled per attempt
    */
  def fetch(
      df: DataFrame,
      urlCol: String,
      timeoutMs: Int = 10000,
      retries: Int = 3,
      backoffMs: Long = 100L): DataFrame = {
    val urlIdx = df.schema.fieldIndex(urlCol)
    val outSchema = StructType(
      df.schema.fields ++ Seq(
        StructField("status", IntegerType, nullable = false),
        StructField("body", StringType, nullable = true)))
    df.mapPartitions { rows =>
      // one keep-alive client per task: connection reuse across the
      // partition's URLs, the amortization the reference gets from a
      // requests.Session
      val client = HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(timeoutMs.toLong))
        // follow 301/302 like the reference's requests.get; without this a
        // redirect is the "final" answer with an empty body and gets silently
        // dropped by the documented `filter status = 200` pattern
        .followRedirects(HttpClient.Redirect.NORMAL)
        .build()
      rows.map { row =>
        val url = row.getString(urlIdx)
        var attempt = 0
        var status = -1
        var body: String = null
        var done = false
        while (!done) {
          attempt += 1
          try {
            val req = HttpRequest.newBuilder(URI.create(url))
              .timeout(Duration.ofMillis(timeoutMs.toLong))
              .GET()
              .build()
            val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
            status = resp.statusCode()
            body = resp.body()
            // 5xx is retryable; anything else is the server's final answer
            done = status < 500 || attempt >= retries
          } catch {
            case e: InterruptedException => throw e
            case e: Exception =>
              status = -1
              body = s"${e.getClass.getSimpleName}: ${e.getMessage}"
              done = attempt >= retries
          }
          if (!done) Thread.sleep(backoffMs << (attempt - 1))
        }
        Row.fromSeq(row.toSeq :+ status :+ body)
      }
    }(Encoders.row(outSchema))
  }

  /** Cursor-following pagination: fetch every URL in `df(urlCol)`, then keep
    * following next-page cursors until every chain is exhausted — the
    * reference's `while data:` page loop (extract_naomi_data.py:72-75),
    * where the number of pages is unknown until the server stops returning
    * them.
    *
    * Shape for scale: the driver iterates page WAVES, not URLs. Wave N is
    * one distributed [[fetch]] over every chain that still has a cursor;
    * the next wave's URL column is derived from the responses by the
    * caller-supplied `nextUrl` expression (evaluated over the fetched
    * columns — typically `get_json_object(body, "$.next")`; null or empty
    * means that chain is done). Driver-side work per wave is one empty-check
    * — total jobs scale with the DEEPEST chain, not the number of chains, so
    * a million 3-page chains cost 3 waves.
    *
    * Each wave is `localCheckpoint(eager)`ed before reuse: the fetch is a
    * side-effecting I/O operator, and checkpointing guarantees the
    * union + next-wave derivation both read the captured rows instead of
    * re-firing requests (and keeps the union's lineage flat across waves).
    *
    * Output = input columns + (status, body, page), page being the 0-based
    * position in the chain. Chains still alive after `maxPages` waves are
    * dropped with a warning (the unbounded-crawl guard).
    */
  def fetchPaged(
      df: DataFrame,
      urlCol: String,
      nextUrl: Column,
      maxPages: Int = 100,
      timeoutMs: Int = 10000,
      retries: Int = 3,
      backoffMs: Long = 100L): DataFrame = {
    require(maxPages >= 1, s"maxPages must be >= 1, got $maxPages")
    val inCols = df.columns.toSeq
    val waves = Seq.newBuilder[DataFrame]
    var wave = df
    var page = 0
    var exhausted = false
    while (!exhausted && page < maxPages) {
      val fetched = fetch(wave, urlCol, timeoutMs, retries, backoffMs)
        .withColumn("page", lit(page))
        .localCheckpoint(true)
      waves += fetched
      val next = fetched
        .withColumn(urlCol, nextUrl)
        .filter(col(urlCol).isNotNull && col(urlCol) =!= "")
        .select(inCols.map(col): _*)
      page += 1
      if (next.isEmpty) exhausted = true else wave = next
    }
    if (!exhausted) {
      logWarning(s"fetchPaged: chains still had cursors after maxPages=$maxPages waves; " +
        "remaining pages dropped")
    }
    waves.result().reduce(_ unionByName _)
  }
}
