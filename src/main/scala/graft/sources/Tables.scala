package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loaders over the engine's supported sources.
  *
  * The reference ingests parquet resource files (extract_pec_data.py:42),
  * JSON mappings (extract_naomi_data.py:137) and CSV/Excel sheets
  * (extract_chu_data.py:36). graft exposes the same surface as thin wrappers
  * over Spark's vectorized readers so predicate pushdown / column pruning /
  * partition pruning all apply. Excel workbooks are read by [[Xlsx.grid]].
  *
  * Parquet schemas are cached per `SparkSession`. Inferring a parquet
  * schema starts a Spark job that reads a file footer; a declared schema
  * starts none. Each parquet read lists the path's leaf files on the driver
  * and keys the schema by the path plus every file's path, length and
  * modification time. A rewritten, added or removed file misses the cache
  * and the schema is inferred again. A new or cloned session starts with
  * an empty cache.
  */
object Tables {
  /** Leaf files of a path, as (path, length, modification time), sorted. */
  private type Fingerprint = Seq[(String, Long, Long)]

  /** Per session: path -> (the fingerprint its schema was inferred at, schema). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Fingerprint, StructType)]])

  /** Read parquet at `path` with the session's cached schema, inferring
    * (and caching) it only when the path's files changed since the last
    * read. A path that lists no files (missing, or a glob) is never cached,
    * so Spark resolves it exactly as an uncached read would. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val files = leafFiles(spark, path)
    val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap)
    cache.get(path) match {
      case (`files`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        if (files.nonEmpty) cache.put(path, (files, df.schema))
        df
    }
  }

  /** `listStatus`, not `listFiles`: on the local file system `listFiles`
    * loads every file's owner and permissions, a process per file (about
    * 145 ms against 1 ms for a 32-file table on 4 CPUs). */
  private def leafFiles(spark: SparkSession, path: String): Fingerprint = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(f => if (f.isDirectory) leaves(f.getPath) else Seq(f))
    try leaves(hp).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def parquet(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def jsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Schema-enforced CSV read with malformed-row quarantine (the
    * dead-letter pattern): PERMISSIVE mode routes every unparseable line
    * into a corrupt-record column instead of failing the job or silently
    * nulling fields; the caller gets (clean rows, quarantined raw lines +
    * file) and decides what to replay. The one-pass cache is Spark's
    * documented requirement for referencing the corrupt column. */
  def csvWithQuarantine(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val corrupt = "_corrupt_record"
    val raw = spark.read
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .csv(path)
      // capture the provenance BEFORE caching — input_file_name() is empty
      // once rows come back out of the InMemory relation
      .withColumn("__source_file", input_file_name())
      .cache()
    val good = raw.filter(col(corrupt).isNull).drop(corrupt, "__source_file")
    val bad = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"), col("__source_file").as("source_file"))
    (good, bad)
  }

  /** JSON-lines twin of [[csvWithQuarantine]]: PERMISSIVE parse with a
    * corrupt-record column, clean side typed to `schema`, malformed lines
    * routed to a (raw_line, source_file) dead-letter frame. Provenance is
    * captured before the cache for the same input_file_name reason. */
  def jsonWithQuarantine(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val corrupt = "_corrupt_record"
    val raw = spark.read
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .withColumn("__source_file", input_file_name())
      .cache()
    val good = raw.filter(col(corrupt).isNull).drop(corrupt, "__source_file")
    val bad = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"), col("__source_file").as("source_file"))
    (good, bad)
  }

  /** Grid-shaped CSV with leading junk rows — the reference's decorated-sheet
    * ingestion shape (extract_chu_data.py:36 reads a sheet from a data
    * range, skipping title/header decoration). `skipLines` rows plus the
    * header are dropped POSITIONALLY from the top of EACH file.
    *
    * Read shape: `wholetext` — one task per file, so line order is the
    * file's own order with no dependence on split partitioning (a previous
    * formulation ordered by `monotonically_increasing_id`, which interleaves
    * when a large file splits), and body rows that happen to equal the
    * header line survive (they were dropped by value before). Grid files are
    * small decorated sheets by nature; a file-per-task read is the right
    * scale shape — thousands of site files fan out, none splits. The header
    * itself is one bounded driver read of the first file, the same contract
    * as Spark's own CSV header inference. */
  def csvGrid(spark: SparkSession, path: String, skipLines: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    if (skipLines <= 0) return csv(spark, path)
    val files = spark.read.option("wholetext", "true").text(path)
    val firstFile = files
      .select(input_file_name().as("__f"), col("value"))
      .orderBy("__f")
      .select("value")
      .head().getString(0)
    val header = firstFile.split("\n", -1).iterator
      .map(_.stripSuffix("\r")).drop(skipLines).next()
    val headerCols = header.split(",", -1).map(_.trim).toSeq
    val body = files
      .select(col("value").as(spark.implicits.newStringEncoder))
      .flatMap(t =>
        t.split("\n", -1).iterator.map(_.stripSuffix("\r")).drop(skipLines + 1).filter(_.nonEmpty))(
        spark.implicits.newStringEncoder)
    spark.read
      .option("header", "false").option("inferSchema", "true")
      .csv(body)
      .toDF(headerCols: _*)
  }

  /** Load a user-supplied file by extension — the reference's entry-point
    * shape for external data drops (`extract_spectrum_data`,
    * update_pnls_report_with_spectrum_path/utils.py:27-66: parquet / csv /
    * xlsx by suffix, a clear error otherwise).
    *
    * @param xlsxSkipRows decoration rows above the header, xlsx only
    */
  def auto(spark: SparkSession, path: String, xlsxSkipRows: Int = 0): DataFrame = {
    val dot = path.lastIndexOf('.')
    val suffix = if (dot < 0) "" else path.substring(dot + 1).toLowerCase
    suffix match {
      case "parquet" => readParquet(spark, path)
      case "orc" => spark.read.orc(path)
      case "csv" => csv(spark, path)
      case "json" | "jsonl" | "ndjson" => jsonLines(spark, path)
      case "xlsx" => Xlsx.grid(spark, path, skipRows = xlsxSkipRows)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported data file `$path`: expected a .parquet, .orc, .csv, " +
            s".json(l) or .xlsx file, got ${if (other.isEmpty) "no extension" else s".$other"}")
    }
  }

  // Named accessors for the synthetic star schema used by the test suite.
  def lineitem(s: SparkSession, d: String): DataFrame = parquet(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = parquet(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = parquet(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = parquet(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = parquet(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = parquet(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = parquet(s, d, "region")
  /** The events table's `ts` normalizes to a session-zoned TIMESTAMP no
    * matter how the parquet writer annotated it: a nanosecond file surfaces
    * as a raw long (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[graft.GraftSession]]) and truncates to micros; an un-zoned
    * microsecond file surfaces as TIMESTAMP_NTZ (Spark 4 infers NTZ) and
    * casts value-preserving under the UTC session zone. Downstream windows,
    * watermarks and oracles all see one stable type. */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(parquet(s, d, "events"))

  /** The events `ts` normalization of [[events]], for a batch or a
    * streaming read of the events table. */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = parquet(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = parquet(s, d, "embeddings")
}
