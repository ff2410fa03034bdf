package graft.streaming

import graft.ops.Patterns
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * Checkpoint-restart restores state exactly (fMGWS state is versioned
  * per epoch) — state updates are effectively-once; the detection sink
  * stays at-least-once with restart-safe unique dir names, like the
  * reference. Two state APIs behind one pipeline ([[NativeStatePipeline.StateApi]]):
  * [[NativeStatePipeline.FlatMapGroups]] (GroupState — one blob per
  * merchant, fine while customers-per-merchant is bounded, as here and
  * in BankSim) and [[NativeStatePipeline.TransformWithStateApi]]
  * (Spark 4 `transformWithState` — ValueState totals + per-entry
  * MapState customers on RocksDB, the shape for unbounded fan-out).
  *
  * State snapshot rows are also APPENDED under `stateDir/log` as parquet
  * partitioned by epoch (a state change-log): [[NativeStatePipeline.merchantSummary]]
  * etc. reconstruct the current tables as last-row-per-key — the audit
  * read path the JDBC backend got from the DB itself. On a long-running
  * stream the raw log (and the readout's window over it) would grow
  * without bound, one small parquet file per epoch — so every
  * `compactEvery` appended epochs the pipeline folds the whole log into
  * a latest-per-key SNAPSHOT under `stateDir/snapshot/v=<epoch>` and
  * deletes the folded epoch partitions ([[NativeStatePipeline.compact]]).
  * The readout then scans snapshot + tail: bounded by |keys| +
  * compactEvery epochs of deltas, regardless of stream age.
  */
class NativeStatePipeline(
    spark: SparkSession,
    importanceDim: DataFrame,
    outDir: String,
    stateDir: String,
    cfg: Patterns.Config = Patterns.DefaultConfig,
    clock: () => Patterns.Clock = () => MicroBatchRunner.wallClock(),
    api: NativeStatePipeline.StateApi = NativeStatePipeline.FlatMapGroups,
    compactEvery: Int = 16) {

  import NativeStatePipeline._

  private val lowWeight = Patterns.streamLowWeightPairs(importanceDim, cfg)

  // appends since the last compaction — empty batches don't append, so
  // the trigger counts actual log growth, not epoch ids
  private var appendsSinceCompact = 0

  /** Per-epoch detection pass over the stateful operator's output. */
  private[graft] def processStateBatch(out: DataFrame, epochId: Long): Unit = {
    // persisted before the empty probe, so the stateful operator runs
    // once per epoch, inside the persisted pass
    out.persist()
    try {
      if (out.isEmpty) return
      // audit/readout change-log: cumulative state rows for this epoch's
      // touched merchants (the "b" batch-pair rows are per-batch only),
      // one epoch partition per append so compaction can retire exactly
      // the folded epochs
      out.filter(col("rowType") =!= "b")
        .withColumn("epoch", lit(epochId))
        .write.mode("append").partitionBy("epoch").parquet(s"$stateDir/log")
      appendsSinceCompact += 1
      if (compactEvery > 0 && appendsSinceCompact >= compactEvery) {
        NativeStatePipeline.compact(spark, stateDir)
        appendsSinceCompact = 0
      }

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
      MicroBatchRunner.writeDetections(
        Patterns.detections(Patterns.patId1(ms, cms, lowWeight(pairs), cfg, now),
          cms, gs, cfg, now), outDir, epochId)
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
    * accumulate as BigDecimal at scale 2, matching the JDBC path's
    * sum(cast(amount AS DECIMAL(18,2))) exactly (Spark's double→decimal
    * cast is HALF_UP, as is the setScale here). */
  case class CustAgg(cnt: Long, amt: BigDecimal)

  /** One merchant's whole state: merchant_summary.total_transactions,
    * merchant_gender_summary's two counts, and the per-customer map. */
  case class MerchantState(total: Long, male: Long, female: Long,
      perCustomer: Map[String, CustAgg])

  /** Flattened operator output — a cumulative-state change-log row
    * (`rowType` m/cm/g mirrors the three tables) or a per-batch distinct
    * (customer, category) pair (`rowType` b) that feeds lowWeight. */
  case class StateOut(rowType: String, merchant_id: String,
      customer_id: String, category: String, c1: Long, c2: Long,
      amt: BigDecimal)

  private val two = BigDecimal(0).setScale(2)

  /** The A7 additive update, now inside Spark's state store: fold the
    * batch's rows for one merchant into its state, emit the merchant's
    * FULL cumulative state (all customers — the same rows scale-mode's
    * merchant-pruned JDBC read returns, so detections are identical)
    * plus the batch's distinct (customer, category) pairs. */
  private[graft] def updateMerchant(merchantId: String, rows: Iterator[Tx],
      state: GroupState[MerchantState]): Iterator[StateOut] = {
    val prev = state.getOption.getOrElse(MerchantState(0L, 0L, 0L, Map.empty))
    var total = prev.total
    var male = prev.male
    var female = prev.female
    val per = scala.collection.mutable.HashMap[String, CustAgg]()
    per ++= prev.perCustomer
    val batchPairs = scala.collection.mutable.LinkedHashSet[(String, String)]()
    rows.foreach { r =>
      total += 1L
      if (r.gender == "M") male += 1L
      else if (r.gender == "F") female += 1L
      val amt2 = BigDecimal(r.amount).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val cur = per.getOrElse(r.customer, CustAgg(0L, two))
      per(r.customer) = CustAgg(cur.cnt + 1L, cur.amt + amt2)
      batchPairs += ((r.customer, r.category))
    }
    state.update(MerchantState(total, male, female, per.toMap))
    Iterator(
      StateOut("m", merchantId, null, null, total, 0L, null),
      StateOut("g", merchantId, null, null, male, female, null)) ++
      per.iterator.map { case (c, a) =>
        StateOut("cm", merchantId, c, null, a.cnt, 0L, a.amt) } ++
      batchPairs.iterator.map { case (c, cat) =>
        StateOut("b", merchantId, c, cat, 0L, 0L, null) }
  }

  /** Merchant totals row for the TWS ValueState. */
  case class Totals(total: Long, male: Long, female: Long)

  /** Per-customer running (count, amount-in-cents) for the TWS MapState
    * — cents as Long keeps the accumulation exact (same HALF_UP per-row
    * rounding as [[CustAgg]]) and gives RocksDB a fixed-width value. */
  case class CustCents(cnt: Long, cents: Long)

  /** The A7 additive update on the `transformWithState` API: same
    * contract as [[updateMerchant]] (emit the merchant's FULL cumulative
    * state + the batch's distinct (customer, category) pairs), but the
    * per-customer map lives as per-entry MapState rows — the batch only
    * get/puts the customers it touches, and the full-map emission is a
    * state-store cursor, not a one-blob deserialize. */
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
      val prev = if (totals.exists()) totals.get() else Totals(0L, 0L, 0L)
      var total = prev.total
      var male = prev.male
      var female = prev.female
      // batch-local delta per touched customer: ONE MapState get/put per
      // touched customer, not per row
      val touched = scala.collection.mutable.HashMap[String, CustCents]()
      val batchPairs = scala.collection.mutable.LinkedHashSet[(String, String)]()
      rows.foreach { r =>
        total += 1L
        if (r.gender == "M") male += 1L
        else if (r.gender == "F") female += 1L
        // unscaled value of the scale-2 decimal IS the cents count
        val cents = BigDecimal(r.amount)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.unscaledValue().longValueExact()
        val cur = touched.getOrElse(r.customer, CustCents(0L, 0L))
        touched(r.customer) = CustCents(cur.cnt + 1L, cur.cents + cents)
        batchPairs += ((r.customer, r.category))
      }
      totals.update(Totals(total, male, female))
      touched.foreach { case (c, d) =>
        val cur = if (perCustomer.containsKey(c)) perCustomer.getValue(c)
          else CustCents(0L, 0L)
        perCustomer.updateValue(c, CustCents(cur.cnt + d.cnt, cur.cents + d.cents))
      }
      Iterator(
        StateOut("m", merchantId, null, null, total, 0L, null),
        StateOut("g", merchantId, null, null, male, female, null)) ++
        perCustomer.iterator().map { case (c, a) =>
          StateOut("cm", merchantId, c, null, a.cnt, 0L,
            BigDecimal(BigInt(a.cents), 2)) } ++
        batchPairs.iterator.map { case (c, cat) =>
          StateOut("b", merchantId, c, cat, 0L, 0L, null) }
    }
  }

  // ---- readout: reconstruct the three tables from snapshot + log tail ----

  private def lastPerKey(log: DataFrame, keys: Seq[String]): DataFrame =
    lastPerKeyKeepEpoch(log, keys).drop("epoch")

  private def lastPerKeyKeepEpoch(log: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("epoch").desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def listDirs(spark: SparkSession, dir: String,
      prefix: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val (fs, p) = hadoopFs(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toLong -> s.getPath)
  }

  /** Snapshot versions that finished writing: [[compact]]'s overwrite is
    * NOT atomic, so a crash mid-write leaves a torn `v=N` dir — and
    * because the log is only deleted after the write, the torn version
    * must be IGNORED (the previous snapshot + intact log still hold
    * every row), not preferred for being newest. Rows folded into the
    * previous snapshot are long gone from the log, so reading a torn
    * newest snapshot would silently drop them from the readout — the
    * same failure family as Compaction's swallowed rename. The marker
    * is OUR OWN `_GRAFT_COMPLETE`, written by [[compact]] after the
    * parquet write returns — keying on the committer's `_SUCCESS`
    * would turn `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`
    * (a common object-store setting) into permanent silent data loss
    * (every snapshot ignored forever, log already deleted). `_SUCCESS`
    * is still accepted for snapshots written before the marker existed. */
  private val snapshotMarker = "_GRAFT_COMPLETE"
  private def completeSnapshots(spark: SparkSession,
      stateDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val (fs, _) = hadoopFs(spark, stateDir)
    listDirs(spark, s"$stateDir/snapshot", "v=").filter { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, snapshotMarker)) ||
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    }
  }

  /** Snapshot ∪ log tail, epoch as long. Empty-but-typed when neither
    * exists yet (readout before the first batch). */
  private def stateLog(spark: SparkSession, stateDir: String): DataFrame = {
    val snapVersions = completeSnapshots(spark, stateDir)
    val snap = snapVersions.sortBy(_._1).lastOption.map { case (_, p) =>
      spark.read.parquet(p.toString)
    }
    // read the epoch partitions explicitly (basePath keeps the epoch
    // column) so a compaction deleting old partitions mid-scan can't
    // fail the listing
    val logParts = listDirs(spark, s"$stateDir/log", "epoch=")
    val log = if (logParts.isEmpty) None else Some(
      spark.read.option("basePath", s"$stateDir/log")
        .parquet(logParts.map(_._2.toString): _*)
        .withColumn("epoch", col("epoch").cast("long")))
    (snap, log) match {
      case (Some(s), Some(l)) => l.unionByName(s.select(l.columns.map(col): _*))
      case (Some(s), None) => s
      case (None, Some(l)) => l
      case (None, None) =>
        import spark.implicits._
        Seq.empty[StateOut].toDF().withColumn("epoch", lit(0L))
    }
  }

  /** Fold the full change-log (previous snapshot + all log epochs) into
    * one latest-per-key snapshot version, then retire the folded epoch
    * partitions and older snapshots. Serialized with appends (called
    * from the foreachBatch thread); the readout stays correct through a
    * crash at any point — the log is only deleted AFTER the snapshot
    * holding the same rows is fully written, and a re-run of compact is
    * idempotent. */
  def compact(spark: SparkSession, stateDir: String): Unit = {
    val logParts = listDirs(spark, s"$stateDir/log", "epoch=")
    if (logParts.isEmpty) return
    val log = stateLog(spark, stateDir)
    val version = logParts.map(_._1).max
    val snapshot = Seq(
      lastPerKeyKeepEpoch(log.filter(col("rowType") === "m"), Seq("merchant_id")),
      lastPerKeyKeepEpoch(log.filter(col("rowType") === "g"), Seq("merchant_id")),
      lastPerKeyKeepEpoch(log.filter(col("rowType") === "cm"),
        Seq("merchant_id", "customer_id")))
      .reduce(_ unionByName _)
    snapshot.write.mode("overwrite").parquet(s"$stateDir/snapshot/v=$version")
    val (fs, _) = hadoopFs(spark, stateDir)
    // completion marker AFTER the write (see completeSnapshots): readers
    // must never trust a snapshot dir the write didn't finish
    fs.create(new org.apache.hadoop.fs.Path(
      s"$stateDir/snapshot/v=$version/$snapshotMarker"), true).close()
    logParts.foreach { case (_, p) => fs.delete(p, true) }
    listDirs(spark, s"$stateDir/snapshot", "v=")
      .filter(_._1 < version)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** merchant_summary reconstructed from the change-log (rows are
    * cumulative, so the latest epoch's row per merchant IS the state). */
  def merchantSummary(spark: SparkSession, stateDir: String): DataFrame =
    lastPerKey(stateLog(spark, stateDir).filter(col("rowType") === "m"),
        Seq("merchant_id"))
      .select(col("merchant_id"), col("c1").as("total_transactions"))

  def custMerchantSummary(spark: SparkSession, stateDir: String): DataFrame =
    lastPerKey(stateLog(spark, stateDir).filter(col("rowType") === "cm"),
        Seq("merchant_id", "customer_id"))
      .select(col("customer_id"), col("merchant_id"),
        col("c1").as("transaction_count"),
        col("amt").cast(DecimalType(18, 2)).as("total_amount_sum"))

  def genderSummary(spark: SparkSession, stateDir: String): DataFrame =
    lastPerKey(stateLog(spark, stateDir).filter(col("rowType") === "g"),
        Seq("merchant_id"))
      .select(col("merchant_id"),
        col("c1").as("male_transaction_count"),
        col("c2").as("female_transaction_count"))
}
