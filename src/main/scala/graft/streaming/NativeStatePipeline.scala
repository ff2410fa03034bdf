package graft.streaming

import graft.CallSite
import graft.ops.Patterns
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor,
  StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}
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
  * Checkpoint-restart restores state exactly (state is versioned per
  * epoch), and the checkpoint is the state's only copy:
  * [[NativeStatePipeline.merchantSummary]] etc. read the three tables
  * from it with Spark's state data source. State updates are
  * effectively-once; the detection sink stays at-least-once with
  * restart-safe unique dir names, like the reference. Two state APIs run
  * behind one pipeline ([[NativeStatePipeline.StateApi]]), and every job
  * of an epoch names its step as its call site ([[graft.CallSite]]).
  */
class NativeStatePipeline(
    spark: SparkSession,
    importanceDim: DataFrame,
    outDir: String,
    cfg: Patterns.Config = Patterns.DefaultConfig,
    clock: () => Patterns.Clock = () => MicroBatchRunner.wallClock(),
    api: NativeStatePipeline.StateApi = NativeStatePipeline.FlatMapGroups) {

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
    // transformWithState requires the RocksDB provider (per-entry
    // MapState access is the whole point). The provider conf is read at
    // query start, so it is set on a CLONED session (shared context +
    // cache, isolated SQLConf) that only this query runs on — setting it
    // on the caller's session would silently flip every other streaming
    // query started there onto RocksDB.
    val qSession = api match {
      case TransformWithStateApi =>
        val s = spark.newSession()
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s
      case _ => spark
    }
    import qSession.implicits._
    val src = MicroBatchRunner.chunkStream(qSession, inputDir)
      .select(col("customer"), col("merchant"), col("gender"),
        col("category"), col("amount"))
      .as[Tx]
    val out: Dataset[StateOut] = api match {
      case FlatMapGroups =>
        src.groupByKey(_.merchant)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
            updateMerchant)
      case TransformWithStateApi =>
        src.groupByKey(_.merchant)
          .transformWithState(new MerchantProcessor(),
            TimeMode.None(), OutputMode.Update())
    }
    MicroBatchRunner.startBatches(out.toDF(), checkpointDir, triggerInterval)(
      processStateBatch)
  }
}

object NativeStatePipeline {

  /** Which arbitrary-state API keeps the per-merchant state. */
  sealed trait StateApi
  /** `flatMapGroupsWithState`: one blob per merchant — the whole
    * customer map (de)serializes per touched key per batch. Fine while
    * customers-per-merchant is bounded. */
  case object FlatMapGroups extends StateApi
  /** `transformWithState` (Spark 4): ValueState for the three totals +
    * MapState for the per-customer rows — RocksDB stores each customer
    * as its OWN state entry, so a batch pays get/put only for the
    * customers it touches and the full-map emission streams a RocksDB
    * cursor instead of deserializing one giant blob. The 100 TB shape
    * for unbounded customers-per-merchant fan-out. */
  case object TransformWithStateApi extends StateApi

  /** Input projection of the 10-column stream: only what state + the
    * pattern queries consume. */
  case class Tx(customer: String, merchant: String, gender: String,
      category: String, amount: Double)

  /** Per-customer running (count, amount-sum) inside a merchant's state
    * — customer_merchant_summary's row, keyed by the map. Amounts
    * accumulate as BigDecimal at scale 2 from [[foldBatch]]'s cents. */
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

  /** Merchant totals; the TWS ValueState's row. */
  case class Totals(total: Long, male: Long, female: Long) {
    def +(o: Totals): Totals = Totals(total + o.total, male + o.male, female + o.female)
  }

  /** Per-customer running (count, amount-in-cents); the TWS MapState's
    * value — cents as Long keep the accumulation exact and give RocksDB a
    * fixed-width value. */
  case class CustCents(cnt: Long, cents: Long) {
    def +(o: CustCents): CustCents = CustCents(cnt + o.cnt, cents + o.cents)
  }

  /** One merchant's batch, folded the same way for both state APIs: the
    * totals delta, a (count, cents) delta per touched customer, and the
    * batch's distinct (customer, category) pairs. Each amount rounds
    * HALF_UP to cents, so the sums match the JDBC path's
    * sum(cast(amount AS DECIMAL(18,2))) exactly (Spark's double→decimal
    * cast is HALF_UP too). */
  private def foldBatch(rows: Iterator[Tx]): (Totals,
      collection.Map[String, CustCents], collection.Set[(String, String)]) = {
    var total, male, female = 0L
    val touched = scala.collection.mutable.HashMap[String, CustCents]()
    val pairs = scala.collection.mutable.LinkedHashSet[(String, String)]()
    rows.foreach { r =>
      total += 1L
      if (r.gender == "M") male += 1L
      else if (r.gender == "F") female += 1L
      // unscaled value of the scale-2 decimal IS the cents count
      val cents = BigDecimal(r.amount).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.unscaledValue().longValueExact()
      touched(r.customer) = touched.getOrElse(r.customer, CustCents(0L, 0L)) +
        CustCents(1L, cents)
      pairs += ((r.customer, r.category))
    }
    (Totals(total, male, female), touched, pairs)
  }

  /** The operator's output for one merchant: its FULL cumulative state
    * (all customers — the same rows scale-mode's merchant-pruned JDBC
    * read returns, so detections are identical), then the batch's pairs. */
  private def emit(merchantId: String, t: Totals,
      customers: Iterator[(String, Long, BigDecimal)],
      pairs: collection.Set[(String, String)]): Iterator[StateOut] =
    Iterator(
      StateOut("m", merchantId, null, null, t.total, 0L, null),
      StateOut("g", merchantId, null, null, t.male, t.female, null)) ++
      customers.map { case (c, cnt, amt) =>
        StateOut("cm", merchantId, c, null, cnt, 0L, amt) } ++
      pairs.iterator.map { case (c, cat) =>
        StateOut("b", merchantId, c, cat, 0L, 0L, null) }

  /** The A7 additive update, now inside Spark's state store: fold the
    * batch's rows for one merchant into its state and [[emit]]. */
  private[graft] def updateMerchant(merchantId: String, rows: Iterator[Tx],
      state: GroupState[MerchantState]): Iterator[StateOut] = {
    val prev = state.getOption.getOrElse(MerchantState(0L, 0L, 0L, Map.empty))
    val (delta, touched, pairs) = foldBatch(rows)
    val t = Totals(prev.total, prev.male, prev.female) + delta
    val per = touched.foldLeft(prev.perCustomer) { case (m, (c, d)) =>
      val cur = m.getOrElse(c, CustAgg(0L, BigDecimal(0L, 2)))
      m.updated(c, CustAgg(cur.cnt + d.cnt, cur.amt + BigDecimal(d.cents, 2)))
    }
    state.update(MerchantState(t.total, t.male, t.female, per))
    emit(merchantId, t, per.iterator.map { case (c, a) => (c, a.cnt, a.amt) }, pairs)
  }

  /** The A7 additive update on the `transformWithState` API: same
    * contract as [[updateMerchant]], but the per-customer map lives as
    * per-entry MapState rows — the batch only get/puts the customers it
    * touches, and the full-map emission is a state-store cursor, not a
    * one-blob deserialize. */
  class MerchantProcessor extends StatefulProcessor[String, Tx, StateOut] {
    @transient private var totals: ValueState[Totals] = _
    @transient private var perCustomer: MapState[String, CustCents] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[Totals]("totals",
        Encoders.product[Totals], TTLConfig.NONE)
      perCustomer = getHandle.getMapState[String, CustCents]("perCustomer",
        Encoders.STRING, Encoders.product[CustCents], TTLConfig.NONE)
    }

    override def handleInputRows(merchantId: String, rows: Iterator[Tx],
        timerValues: TimerValues): Iterator[StateOut] = {
      val (delta, touched, pairs) = foldBatch(rows)
      val t = (if (totals.exists()) totals.get() else Totals(0L, 0L, 0L)) + delta
      totals.update(t)
      // ONE MapState get/put per touched customer, not per row
      touched.foreach { case (c, d) =>
        perCustomer.updateValue(c,
          if (perCustomer.containsKey(c)) perCustomer.getValue(c) + d else d)
      }
      emit(merchantId, t, perCustomer.iterator().map { case (c, a) =>
        (c, a.cnt, BigDecimal(a.cents, 2)) }, pairs)
    }
  }

  // ---- readout: the three tables at the checkpoint's last committed batch ----

  /** The query's state (one `transformWithState` variable when
    * `stateVar` is set), read with Spark's state data source; the store
    * provider comes from the checkpoint's metadata. On a checkpoint with
    * no committed batch the read fails with Spark's
    * `STDS_COMMITTED_BATCH_UNAVAILABLE`, which names the checkpoint. */
  private def stateRows(spark: SparkSession, checkpointDir: String,
      stateVar: Option[String]): DataFrame = {
    val reader = spark.read.format("statestore")
    stateVar.fold(reader)(reader.option("stateVarName", _)).load(checkpointDir)
  }

  /** merchant_id and the merchant's totals as struct `t`. */
  private def totals(spark: SparkSession, checkpointDir: String, api: StateApi): DataFrame = {
    val (rows, t) = api match {
      case FlatMapGroups => (stateRows(spark, checkpointDir, None), col("value.groupState"))
      case TransformWithStateApi => (stateRows(spark, checkpointDir, Some("totals")), col("value"))
    }
    rows.select(col("key.value").as("merchant_id"), t.as("t"))
  }

  def merchantSummary(spark: SparkSession, checkpointDir: String, api: StateApi): DataFrame =
    totals(spark, checkpointDir, api)
      .select(col("merchant_id"), col("t.total").as("total_transactions"))

  /** `flatMapGroupsWithState` keeps the customers as a map in the
    * merchant's state; `transformWithState` keeps one MapState entry
    * each, with the amount in cents. */
  def custMerchantSummary(spark: SparkSession, checkpointDir: String,
      api: StateApi): DataFrame = {
    val amt = DecimalType(18, 2)
    api match {
      case FlatMapGroups =>
        stateRows(spark, checkpointDir, None)
          .select(col("key.value").as("merchant_id"),
            explode(col("value.groupState.perCustomer")).as(Seq("customer_id", "agg")))
          .select(col("customer_id"), col("merchant_id"),
            col("agg.cnt").as("transaction_count"),
            col("agg.amt").cast(amt).as("total_amount_sum"))
      case TransformWithStateApi =>
        stateRows(spark, checkpointDir, Some("perCustomer"))
          .select(col("user_map_key.value").as("customer_id"),
            col("key.value").as("merchant_id"),
            col("user_map_value.cnt").as("transaction_count"),
            (col("user_map_value.cents").cast(DecimalType(20, 0)) / 100).cast(amt)
              .as("total_amount_sum"))
    }
  }

  def genderSummary(spark: SparkSession, checkpointDir: String, api: StateApi): DataFrame =
    totals(spark, checkpointDir, api).select(col("merchant_id"),
      col("t.male").as("male_transaction_count"),
      col("t.female").as("female_transaction_count"))
}
