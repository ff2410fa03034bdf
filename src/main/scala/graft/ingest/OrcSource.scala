package graft.ingest

import graft.{Published, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC source/sink for the documents table — the second columnar format
  * big lakehouses actually hold (Hive-era tables are ORC; a curation
  * engine that can only scan parquet forces a full-format migration
  * before the first query runs).
  *
  * Scale notes:
  *   - the sink writes HIVE-PARTITIONED by `lang` (`lang=en/…`), so a
  *     language-filtered scan prunes whole directories at the source —
  *     the dominant access pattern of per-language curation stages;
  *   - ORC carries min/max stride indexes natively; pushed predicates
  *     (`orc.filterPushdown` below) skip row groups inside the files
  *     that partition pruning keeps;
  *   - ZSTD compression matches the parquet side's codec economics (the
  *     100 TB corpus is stored once per format, scanned many times).
  *
  * OrcSourceSpec checks round-trip parity and that the pruned scan reads
  *   only the requested partition; `orc_scan` is DuckDB-oracle-checked
  *   against the same rows read from parquet (format round-trip must be
  *   value-lossless, so the oracle needs no ORC reader).
  */
object OrcSource {

  /** Write the frame as lang-partitioned, ZSTD-compressed ORC. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .partitionBy("lang")
      .option("compression", "zstd")
      .orc(path)

  /** Read with ORC predicate pushdown on (partition pruning needs no
    * option — it falls out of the directory layout). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("orc.filterPushdown", "true").orc(path)

  /** The registered round-trip query: documents → partitioned ORC →
    * pruned single-language scan; the scan touches only `lang=en/`.
    * The mirror is a [[graft.Published]] artifact of the documents
    * table. */
  def orcScan(spark: SparkSession, dir: String, lang: String = "en"): DataFrame = {
    val fin = Published.publish(spark,
        Published.cachePath(spark, "orc_mirror", dir, "documents.parquet")) {
      writePartitioned(Tables.documents(spark, dir), _)
    }
    read(spark, fin)
      .filter(col("lang") === lang)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  def orcScanSql(lang: String = "en"): String =
    s"SELECT doc_id, source, n_chars FROM documents WHERE lang = '$lang'"
}
