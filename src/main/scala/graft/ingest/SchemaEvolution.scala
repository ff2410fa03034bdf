package graft.ingest

import graft.{Published, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-evolution-tolerant reads — the lakehouse fact of life every
  * long-lived ingest hits: early epochs of a table were written before
  * a column existed, and a scan over the whole history must still plan.
  * Spark's parquet source resolves this with `mergeSchema` (the union
  * schema across files; missing columns read as null), and the
  * DOWNSTREAM contract is explicit null-defaulting, so the evolved
  * column is usable the moment it appears without rewriting history.
  *
  * Scale notes: schema merging lists file footers, not data — the cost
  * is per-FILE metadata, not per-row (and on a 100 TB table you bound
  * it by partition-pruning first or by declaring the union schema
  * explicitly, both shown in OrcSourceSpec's sibling tests here);
  * null-defaulting is a zero-shuffle projection.
  *
  * `schema_evolution` is DuckDB-oracled: the epoch split is a
  * deterministic function of doc_id, so the oracle reconstructs the
  * same history from the un-evolved documents table.
  */
object SchemaEvolution {

  /** Write the documents table as a two-epoch history: epoch 0 predates
    * the `lang` column (an early crawl), epoch 1 carries it. Published
    * once at `path` ([[graft.Published.publish]]); returns the published
    * history dir. */
  def writeEpochs(spark: SparkSession, dir: String, path: String): String =
    Published.publish(spark, path) { attempt =>
      val docs = Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .write.parquet(s"$attempt/epoch=0")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.parquet(s"$attempt/epoch=1")
    }

  /** Union-schema scan over the full history: files written before
    * `lang` existed surface it as null. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Registered query: corpus language mix over the EVOLVED history,
    * with pre-evolution epochs null-defaulted to 'unknown' — the exact
    * aggregate a curation dashboard keeps running across the schema
    * change. */
  def schemaEvolutionScan(spark: SparkSession, dir: String): DataFrame = {
    val published = writeEpochs(spark, dir,
      Published.cachePath(spark, "evo_mirror", dir, "documents.parquet"))
    readMerged(spark, published)
      .select(col("doc_id"), coalesce(col("lang"), lit("unknown")).as("lang_eff"),
        col("n_chars"))
      .groupBy(col("lang_eff"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  val schemaEvolutionScanSql: String =
    """SELECT CASE WHEN doc_id % 2 = 0 THEN 'unknown' ELSE lang END AS lang_eff,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1""".stripMargin
}
