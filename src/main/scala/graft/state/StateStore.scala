package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's mutable keyed state: three running-aggregate tables
  * grown additively per micro-batch (PostgreSQL upserts in the reference
  * — sql/postgres_tables.sql:3-25, "Mechanism Y.py":136-206). Behind a
  * trait so the engine runs against embedded JDBC (Derby), an in-memory
  * store for tests, or a real RDBMS unchanged.
  *
  * Delta frames carry the PER-BATCH aggregates; implementations merge
  * additively (count += delta, sum += delta), inserting absent keys —
  * the semantics of the reference's per-batch upsert ("Mechanism
  * Y.py":152-160).
  *
  * Delivery semantics: [[applyDeltas]] with `epochId = None` reproduces
  * the reference's at-least-once double-count on replay (README.md:232);
  * passing the micro-batch epoch enables idempotent fencing (each epoch
  * applied at most once) — the improvement SURVEY.md §2.8 calls for.
  */
trait StateStore {

  /** Apply one micro-batch's deltas (any subset of the three tables). */
  def applyDeltas(
      merchantDelta: DataFrame,
      custMerchantDelta: DataFrame,
      genderDelta: DataFrame,
      epochId: Option[Long] = None): Unit

  /** merchant_summary(merchant_id, total_transactions, last_updated). */
  def merchantSummary(spark: SparkSession): DataFrame

  /** customer_merchant_summary(customer_id, merchant_id,
    * transaction_count, total_amount_sum, last_updated). */
  def custMerchantSummary(spark: SparkSession): DataFrame

  /** merchant_gender_summary(merchant_id, male_transaction_count,
    * female_transaction_count, last_updated). */
  def genderSummary(spark: SparkSession): DataFrame

  /** Keyed/pruned read: state rows for the given merchant ids only.
    * The scale fix for the reference's O(state) full-table re-read per
    * 10k-row batch (SURVEY.md §4): a batch touches ≤ batch-size distinct
    * keys, so the state read should be keyed, not full. Default
    * implementation filters the full read; JDBC stores push the
    * predicate down. */
  def merchantSummaryFor(spark: SparkSession, merchantIds: Seq[String]): DataFrame =
    merchantSummary(spark).filter(
      org.apache.spark.sql.functions.col("merchant_id").isin(merchantIds: _*))

  /** Keyed/pruned read of customer_merchant_summary by merchant id —
    * PatId1/2 in scale mode only need state for merchants the batch
    * touched. */
  def custMerchantSummaryFor(spark: SparkSession, merchantIds: Seq[String]): DataFrame =
    custMerchantSummary(spark).filter(
      org.apache.spark.sql.functions.col("merchant_id").isin(merchantIds: _*))

  /** Keyed/pruned read of merchant_gender_summary by merchant id. */
  def genderSummaryFor(spark: SparkSession, merchantIds: Seq[String]): DataFrame =
    genderSummary(spark).filter(
      org.apache.spark.sql.functions.col("merchant_id").isin(merchantIds: _*))

  def close(): Unit = ()
}
