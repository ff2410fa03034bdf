package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (one JSON object per line) document ingest/egress — the
  * de-facto interchange format of LLM corpus tooling; an engine whose
  * users curate training data has to speak it natively.
  *
  * Scale notes:
  *   - the schema is EXPLICIT: schema inference reads the whole input
  *     once before the real scan — a 2× pass a 100 TB ingest cannot pay;
  *   - newline-delimited JSON is splittable, so one large file still
  *     fans out across executors (unlike multiline JSON, which is one
  *     task per file);
  *   - PERMISSIVE mode + a `_corrupt_record` column quarantines bad
  *     lines instead of failing the batch — crawler output always has
  *     some — and [[corruptLines]]/[[goodDocuments]] split the two
  *     streams for the caller.
  */
object JsonlSource {

  /** The documents-table schema plus the corrupt-line capture column. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt_record", StringType)))

  private val corruptOpts: Map[String, String] =
    Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** Text scan + column-level `from_json` with the corrupt-record field
    * INSIDE the parse schema. The raw `json(path)` source refuses any
    * pruned plan that references only `_corrupt_record` — e.g.
    * `goodDocuments(...).count()` would be an AnalysisException
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and Spark's suggested fix
    * (cache the parse) pins the raw input in memory. Parsing the text
    * line as a column sidesteps the scan restriction, prunes and counts
    * freely, and stays one streaming pass. */
  private def parsed(spark: SparkSession, path: String): DataFrame =
    // whitespace-only lines are dropped up front, matching the native
    // json() source, which ignores them entirely — they belong to
    // NEITHER stream (they're separators, not torn records)
    spark.read.text(path)
      .filter(trim(col("value")) =!= "")
      .select(col("value"),
        from_json(col("value"), documentsSchema, corruptOpts).as("p"))

  /** The clean stream: parsed docs only. A row is clean only when the
    * parse produced a STRUCT with no corrupt-record payload: from_json
    * returns a null struct (not a corrupt-marked one) for non-object
    * JSON values like a bare `null`, `3`, or `"str"`, so filtering on
    * `_corrupt_record IS NULL` alone would pass those through as
    * phantom all-null documents — null doc_ids that poison downstream
    * joins while the quarantine stream never sees the line. */
  def goodDocuments(spark: SparkSession, path: String): DataFrame =
    parsed(spark, path)
      .filter(col("p").isNotNull && col("p._corrupt_record").isNull)
      .select(col("p.doc_id"), col("p.text"), col("p.lang"),
        col("p.source"), col("p.n_chars"))

  /** The quarantine stream: original bad lines, for a dead-letter sink —
    * both unparseable lines (corrupt-marked) and parseable-but-not-an-
    * object lines (null struct; see [[goodDocuments]]). */
  def corruptLines(spark: SparkSession, path: String): DataFrame =
    parsed(spark, path)
      .filter(col("p").isNull || col("p._corrupt_record").isNotNull)
      .select(col("value").as("line"))

  /** Write a documents frame as JSONL (Spark's json sink IS jsonl: one
    * object per line, splittable on re-read). */
  def writeDocuments(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
