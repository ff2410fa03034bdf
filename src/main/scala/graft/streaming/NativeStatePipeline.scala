package graft.streaming

import graft.CallSite
import graft.ops.Patterns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.DecimalType

/** The SURVEY.md §2.5 A7 "native option": the three running state tables
  * ("Mechanism Y.py":136-218, postgres_tables.sql:3-25) kept in SPARK'S
  * OWN checkpointed state store via `groupByKey.flatMapGroupsWithState`,
  * instead of externalized over JDBC ([[graft.state.JdbcUpsertStore]]).
  *
  * Architecture note — why this is a pipeline mode, not a third
  * [[graft.state.StateStore]] implementation: the trait models
  * EXTERNALIZED state (per-batch write-deltas-then-read-back over a
  * connection); the native backend's whole point is that the
  * read-modify-write never leaves the stateful operator. One streaming
  * query does everything:
  *
  *   file stream → groupByKey(merchant) → flatMapGroupsWithState
  *     (cumulative total/male/female + per-customer (count, sum) per
  *      merchant, additively updated per batch — exactly the three
  *      tables' contents, keyed once by their shared merchant_id)
  *   → foreachBatch over the operator's OUTPUT: the cumulative state
  *     rows of the merchants this batch touched — the same frame
  *     scale-mode's pruned JDBC read pays a DB round-trip for, now a
  *     zero-IO side effect of updating state
  *   → the three pattern queries + distributed detection sink: the
  *     same [[Patterns.streamLowWeightPairs]] / [[Patterns.detections]]
  *     stage and [[MicroBatchRunner.writeDetections]] sink as the
  *     JDBC-backed runner's scale mode. The reference's missing-threshold
  *     fallback ("Mechanism Y.py":236-237) cannot fire here either: the
  *     thresholds aggregate the same dim the weight joins from.
  *
  * 100 TB story: state lives partitioned by merchant across executors in
  * the checkpointed state store (RocksDB-backed on a real cluster via
  * `spark.sql.streaming.stateStore.providerClass`); per-batch state IO is
  * the operator's local get/put, not three JDBC scans + three upserts.
  * A merchant's state is one value, so a batch (de)serializes the whole
  * customer map of each merchant it touches — the same O(customers of a
  * touched merchant) the emitted full state costs anyway.
  * Checkpoint-restart restores state exactly (state is versioned per
  * epoch), and the checkpoint is the state's only copy:
  * [[NativeStatePipeline.merchantSummary]] etc. read the three tables
  * from it with Spark's state data source. State updates are
  * effectively-once; the detection sink stays at-least-once with
  * restart-safe unique dir names, like the reference. Every job of an
  * epoch names its step as its call site ([[graft.CallSite]]).
  */
class NativeStatePipeline(
    spark: SparkSession,
    importanceDim: DataFrame,
    outDir: String,
    cfg: Patterns.Config = Patterns.DefaultConfig,
    clock: () => Patterns.Clock = () => MicroBatchRunner.wallClock()) {

  import NativeStatePipeline._

  private val lowWeight = Patterns.streamLowWeightPairs(importanceDim, cfg)

  /** Per-epoch detection pass over the stateful operator's output. */
  private[graft] def processStateBatch(out: DataFrame, epochId: Long): Unit = {
    // persisted so the stateful operator runs once per epoch, not once per
    // state frame below. No empty probe: a NoTimeout / TimeMode.None chunk
    // stream runs no data-less epoch, and writeDetections skips an empty write
    out.persist()
    try {
      val ms = out.filter(col("rowType") === "m")
        .select(col("merchant_id"), col("c1").as("total_transactions"))
      val cms = out.filter(col("rowType") === "cm")
        .select(col("customer_id"), col("merchant_id"),
          col("c1").as("transaction_count"),
          col("amt").cast(DecimalType(18, 2)).as("total_amount_sum"))
      val gs = out.filter(col("rowType") === "g")
        .select(col("merchant_id"),
          col("c1").as("male_transaction_count"),
          col("c2").as("female_transaction_count"))
      // J1/J2 over the batch's distinct (customer, merchant, category)
      // triples — weight comes from the importance dim, so the distinct
      // triples carry everything the low-weight step needs
      val pairs = out.filter(col("rowType") === "b")
        .select(col("customer_id").as("customer"),
          col("merchant_id").as("merchant"), col("category"))

      val now = clock()
      CallSite.named(spark, "NativeStatePipeline.processStateBatch: detections")(
        MicroBatchRunner.writeDetections(
          Patterns.detections(Patterns.patId1(ms, cms, lowWeight(pairs), cfg, now),
            cms, gs, cfg, now), outDir, epochId))
    } finally out.unpersist()
  }

  /** S3 + K5 with native state: one streaming query from the chunk
    * directory through the stateful operator into the detection pass. */
  def start(inputDir: String, checkpointDir: String,
      triggerInterval: String = "30 seconds"): StreamingQuery = {
    import spark.implicits._
    val out = MicroBatchRunner.chunkStream(spark, inputDir)
      .select(col("customer"), col("merchant"), col("gender"),
        col("category"), col("amount"))
      .as[Tx]
      .groupByKey(_.merchant)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        updateMerchant)
    MicroBatchRunner.startBatches(out.toDF(), checkpointDir, triggerInterval)(
      processStateBatch)
  }
}

object NativeStatePipeline {

  /** Input projection of the 10-column stream: only what state + the
    * pattern queries consume. A chunk row with no amount counts as a
    * transaction and adds 0, as the JDBC store's COALESCE does
    * ("Mechanism Y.py":178). */
  case class Tx(customer: String, merchant: String, gender: String,
      category: String, amount: Option[Double])

  /** Per-customer running (count, amount-sum) inside a merchant's state
    * — customer_merchant_summary's row, keyed by the map. */
  case class CustAgg(cnt: Long, amt: BigDecimal)

  /** One merchant's whole state: merchant_summary.total_transactions,
    * merchant_gender_summary's two counts, and the per-customer map. */
  case class MerchantState(total: Long, male: Long, female: Long,
      perCustomer: Map[String, CustAgg])

  /** Flattened operator output — a cumulative-state row of a touched
    * merchant (`rowType` m/cm/g mirrors the three tables) or a per-batch
    * distinct (customer, category) pair (`rowType` b) that feeds lowWeight. */
  case class StateOut(rowType: String, merchant_id: String,
      customer_id: String, category: String, c1: Long, c2: Long,
      amt: BigDecimal)

  /** The A7 additive update, inside Spark's state store: fold the batch's
    * rows for one merchant into its state, then emit its FULL cumulative
    * state (all customers — the same rows scale-mode's merchant-pruned
    * JDBC read returns, so detections are identical) and the batch's
    * distinct (customer, category) pairs. Each amount rounds HALF_UP to
    * cents, so the sums match the JDBC path's
    * sum(cast(amount AS DECIMAL(18,2))) exactly (Spark's double→decimal
    * cast is HALF_UP too). */
  private[graft] def updateMerchant(merchantId: String, rows: Iterator[Tx],
      state: GroupState[MerchantState]): Iterator[StateOut] = {
    val prev = state.getOption.getOrElse(MerchantState(0L, 0L, 0L, Map.empty))
    var total = prev.total
    var male = prev.male
    var female = prev.female
    var per = prev.perCustomer
    val pairs = scala.collection.mutable.LinkedHashSet[(String, String)]()
    rows.foreach { r =>
      total += 1L
      if (r.gender == "M") male += 1L
      else if (r.gender == "F") female += 1L
      val cur = per.getOrElse(r.customer, CustAgg(0L, BigDecimal(0L, 2)))
      per = per.updated(r.customer, CustAgg(cur.cnt + 1L, cur.amt +
        r.amount.fold(BigDecimal(0L, 2))(
          BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP))))
      pairs += ((r.customer, r.category))
    }
    val next = MerchantState(total, male, female, per)
    state.update(next)
    Iterator(
      StateOut("m", merchantId, null, null, next.total, 0L, null),
      StateOut("g", merchantId, null, null, next.male, next.female, null)) ++
      next.perCustomer.iterator.map { case (c, a) =>
        StateOut("cm", merchantId, c, null, a.cnt, 0L, a.amt) } ++
      pairs.iterator.map { case (c, cat) =>
        StateOut("b", merchantId, c, cat, 0L, 0L, null) }
  }

  // ---- readout: the three tables at the checkpoint's last committed batch ----

  /** The query's state, read with Spark's state data source: the merchant
    * as `merchant_id` and its [[MerchantState]] as struct `s`. On a
    * checkpoint with no committed batch the read fails with Spark's
    * `STDS_COMMITTED_BATCH_UNAVAILABLE`, which names the checkpoint. */
  private def stateRows(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("statestore").load(checkpointDir)
      .select(col("key.value").as("merchant_id"), col("value.groupState").as("s"))

  def merchantSummary(spark: SparkSession, checkpointDir: String): DataFrame =
    stateRows(spark, checkpointDir)
      .select(col("merchant_id"), col("s.total").as("total_transactions"))

  def custMerchantSummary(spark: SparkSession, checkpointDir: String): DataFrame =
    stateRows(spark, checkpointDir)
      .select(col("merchant_id"),
        explode(col("s.perCustomer")).as(Seq("customer_id", "agg")))
      .select(col("customer_id"), col("merchant_id"),
        col("agg.cnt").as("transaction_count"),
        col("agg.amt").cast(DecimalType(18, 2)).as("total_amount_sum"))

  def genderSummary(spark: SparkSession, checkpointDir: String): DataFrame =
    stateRows(spark, checkpointDir).select(col("merchant_id"),
      col("s.male").as("male_transaction_count"),
      col("s.female").as("female_transaction_count"))
}
