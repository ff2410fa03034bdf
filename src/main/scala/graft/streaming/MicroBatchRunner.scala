package graft.streaming

import graft.CallSite
import graft.ops.Patterns
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Mechanism-Y analog: the Structured Streaming micro-batch pipeline
  * ("Mechanism Y.py":100-313) re-expressed Spark-first.
  *
  * Per micro-batch (foreachBatch); in parity mode three Spark jobs run
  * besides the flush writes — the batch read, the active merchants and
  * the detections:
  *   1. one read of the batch: a projection collected to the driver, with
  *      no persist and no Spark aggregate; an empty result is the
  *      empty-batch guard ("Mechanism Y.py":124-134)
  *   2. the three per-batch deltas (A1/A2/A3) roll up from the collected
  *      rows on the driver ([[MicroBatchRunner.rollUp]]) and go to the
  *      additive state upsert (K2/K3 via [[StateStore]]) as local frames;
  *      the JDBC store collects them without a Spark job and writes all
  *      three over its own connection in one transaction
  *   3. J1/J2 on the driver: each row's (customer, merchant, category),
  *      cast to the importance dim's key types, is looked up in the
  *      low-weight set [[Patterns.lowWeightSet]] computes once per dim,
  *      percentile thresholds (A4) included. [[NativeStatePipeline]]
  *      semi-joins its batch against the same set
  *      ([[Patterns.streamLowWeightPairs]]). The reference's
  *      missing-threshold fallback ("Mechanism Y.py":236-237) cannot
  *      fire: the thresholds aggregate the same dim the weight comes
  *      from, so a non-null weight always has a non-null threshold
  *   4. the three pattern queries over cumulative state (§2.11,
  *      [[Patterns.detections]]) in one job: the active merchants are
  *      collected first (≤ one row per merchant), so that with the
  *      batch's low-weight pairs PatId1 is a hash-set filter on the
  *      summary scan ([[Patterns.patId1Local]]), with no join and no
  *      shuffle. The state reads are left unpersisted so each pattern's
  *      filters push into its own JDBC scan
  *   5. detections → driver buffer → 50-row single-file CSV flushes
  *      (S6/K4, "Mechanism Y.py":268-277)
  *
  * Every job names its step as its call site ([[graft.CallSite]]).
  *
  * Kept reference semantics: PatId2/3 re-emit all qualifying state every
  * batch; detections are collected to the driver (bounded by state size,
  * a reference parity choice — SURVEY.md §2.11). The batch is collected
  * too: a batch is one chunk file. Fixed vs the reference:
  * upserts can be epoch-fenced (idempotent = true), and `scaleMode`
  * switches the three per-batch state reads from full-table to keyed
  * ([[StateStore.merchantSummaryFor]] etc., pruned to the merchants the
  * batch touched) — per-batch state IO becomes O(batch keys) instead of
  * the reference's O(state) re-read (SURVEY.md §4). In scale mode the
  * PatId2/3 re-emit is keyed to the batch's merchants too: for touched
  * merchants the detections are identical to parity mode; untouched
  * merchants simply aren't re-announced every batch. Scale mode also
  * replaces the driver-side detection buffer with the distributed sink
  * [[MicroBatchRunner.writeDetections]] (the native backend's too):
  * detections write straight from executors, so neither state size nor
  * detection volume ever funnels through the driver.
  */
class MicroBatchRunner(
    spark: SparkSession,
    store: StateStore,
    importanceDim: DataFrame,
    outDir: String,
    cfg: Patterns.Config = Patterns.DefaultConfig,
    clock: () => Patterns.Clock = () => MicroBatchRunner.wallClock(),
    idempotent: Boolean = false,
    scaleMode: Boolean = false) {

  import MicroBatchRunner._

  private val lowWeight = Patterns.lowWeightSet(importanceDim, cfg)

  private val buffer = ArrayBuffer[Row]()
  private var currentEpoch = -1L

  /** S5 — the reference's state-read fallback ("Mechanism Y.py":214-218):
    * a transient store failure yields an empty, correctly-schema'd frame
    * (the reference's includes last_updated; ours reads drop it) so the
    * batch completes with whatever state IS readable instead of killing
    * the streaming query. */
  private def stateOrEmpty(schema: StructType)(read: => DataFrame): DataFrame =
    try read catch {
      case scala.util.control.NonFatal(_) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def named[T](step: String)(body: => T): T =
    CallSite.named(spark, s"MicroBatchRunner.$step")(body)

  /** The per-batch pipeline; public so batch-mode tests drive it without
    * a streaming query (SURVEY.md §7 step 3: process_batch as a pure-ish
    * function of (batch, state)). */
  def processBatch(batch: DataFrame, epochId: Long): Unit = {
    // The batch's one read: a projection collected to the driver like
    // the parity detection buffer — a batch is one chunk file
    // (maxFilesPerTrigger = 1). Columns: customer, merchant, gender,
    // amount, then the low-weight lookup keys — the batch's customer,
    // merchant and category cast to the importance dim's key types, the
    // coercion the reference's J1 join applies ("Mechanism Y.py":221).
    val rows = named("processBatch: batch read")(batch.select(
      Seq(col("customer"), col("merchant"), col("gender"),
        col("amount").cast(DecimalType(18, 2))) ++
        lowWeight.keySchema.map(f => col(f.name).cast(f.dataType)): _*).collect())
    if (rows.isEmpty) return                          // empty-batch guard
    currentEpoch = epochId
    val epoch = if (idempotent) Some(epochId) else None

    // The reference aggregates the batch three times ("Mechanism
    // Y.py":142, 167, 187); here the three state deltas roll up from the
    // collected rows on the driver ([[rollUp]]) and reach the store as
    // local frames — no Spark aggregate or write job. The gender pivot is
    // a conditional count (SURVEY.md §2.5 A3); the pivot+P11-repair form
    // itself is oracle-checked in RelOps.aggGenderPivot.
    val (mDelta, cmDelta, gDelta) = rollUp(rows)
    store.applyDeltas(local(mDelta, merchantStateSchema),
      local(cmDelta, custMerchantStateSchema), local(gDelta, genderStateSchema), epoch)

    // J1/J2: the batch's (customer, merchant) pairs whose triple is in
    // the low-weight set, looked up on the driver
    val lowWeightPairs = rows.iterator
      .filter(r => lowWeight.contains(r.get(4), r.get(5), r.get(6)))
      .map(r => (r.get(0), r.get(1))).toSet

    // State reads: scale mode prunes every read to the merchants this
    // batch touched (≤ batch rows); parity mode keeps the reference's
    // full re-read. Both survive a transient store failure via the S5
    // empty-frame fallback. Do not persist them: each pattern's filters
    // and columns push into its own JDBC scan (e.g. PatId2's
    // `transaction_count >= 3`) only while the read stays unpersisted; a
    // persisted read ships the whole table every batch.
    val (ms, cms, gs) =
      if (scaleMode) {
        val mids = rows.map(_.getString(1)).distinct.toSeq
        (stateOrEmpty(merchantStateSchema)(store.merchantSummaryFor(spark, mids)),
          stateOrEmpty(custMerchantStateSchema)(store.custMerchantSummaryFor(spark, mids)),
          stateOrEmpty(genderStateSchema)(store.genderSummaryFor(spark, mids)))
      } else {
        (stateOrEmpty(merchantStateSchema)(store.merchantSummary(spark)),
          stateOrEmpty(custMerchantStateSchema)(store.custMerchantSummary(spark)),
          stateOrEmpty(genderStateSchema)(store.genderSummary(spark)))
      }
    // PatId1's merchant side, collected (≤ one row per merchant): with
    // it and the low-weight pairs on the driver, PatId1 is one filter
    // on the summary scan whatever the size of the state
    val active = named("processBatch: active merchants")(
      Patterns.activeMerchants(ms, cfg).select(col("merchant_id")).collect())
      .map(_.get(0)).toSet
    val now = clock()
    val detections = Patterns.detections(
      Patterns.patId1Local(cms, active, lowWeightPairs, cfg, now), cms, gs, cfg, now)
    if (scaleMode) named("processBatch: detections")(writeDetections(detections, outDir, epochId))
    else {
      buffer ++= named("processBatch: detections")(detections.collect())
      while (buffer.length >= DetectionFileRows) {
        val chunk = buffer.take(DetectionFileRows).toList
        buffer.remove(0, DetectionFileRows)
        flush(chunk)
      }
    }
  }

  /** Trailing flush of a final partial file ("Mechanism Y.py" leaves the
    * remainder buffered; expose it so a drained run can emit it). */
  def flushRemainder(): Unit =
    if (buffer.nonEmpty) {
      val chunk = buffer.toList
      buffer.clear()
      flush(chunk)
    }

  /** Parity-mode flush: one single-file CSV dir per buffered chunk of
    * exactly [[DetectionFileRows]] rows (the remainder excepted). */
  private def flush(rows: Seq[Row]): Unit = named("flush: detection file")(
    local(rows, detectionSchema)
      .coalesce(1).write.option("header", "true")
      .csv(detectionDir(outDir, currentEpoch)))

  /** S3 + K5: the chunk stream into foreachBatch. */
  def start(inputDir: String, checkpointDir: String,
      triggerInterval: String = "30 seconds"): StreamingQuery =
    startBatches(chunkStream(spark, inputDir), checkpointDir, triggerInterval)(
      processBatch)
}

object MicroBatchRunner {

  /** Streaming transaction schema — the reference's full 10-column
    * transaction_schema in its column order ("Mechanism Y.py":35-41), so
    * the engine reads the reference's chunk CSVs unmodified. Only
    * divergence: amount is DoubleType where the reference declares
    * FloatType — a widening that parses the same CSVs and keeps the sums
    * exact. */
  val txStreamSchema: StructType = StructType(Seq(
    StructField("step", IntegerType),
    StructField("customer", StringType),
    StructField("age", StringType),
    StructField("gender", StringType),
    StructField("zipcodeOri", StringType),
    StructField("merchant", StringType),
    StructField("zipMerchant", StringType),
    StructField("category", StringType),
    StructField("amount", DoubleType),
    StructField("fraud", IntegerType)))

  /** Schemas for the S5 empty-frame fallback (the reference's
    * schema_merchant_summary etc., "Mechanism Y.py":47-58, minus the
    * last_updated column our reads drop). */
  val merchantStateSchema: StructType = StructType(Seq(
    StructField("merchant_id", StringType),
    StructField("total_transactions", LongType)))
  val custMerchantStateSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType),
    StructField("merchant_id", StringType),
    StructField("transaction_count", LongType),
    StructField("total_amount_sum", DecimalType(18, 2))))
  val genderStateSchema: StructType = StructType(Seq(
    StructField("merchant_id", StringType),
    StructField("male_transaction_count", LongType),
    StructField("female_transaction_count", LongType)))

  /** The three state deltas — rows of [[merchantStateSchema]],
    * [[custMerchantStateSchema]] and [[genderStateSchema]] — rolled up on
    * the driver from a batch's collected rows (customer, merchant,
    * gender, amount: decimal or null, …), one row per transaction.
    * Exact, with Spark `sum` semantics: Long counts, BigDecimal amount
    * sums, a sum over null amounts only stays null (the JDBC store adds
    * it as 0), and a gender other than "M"/"F" (null included) adds to
    * neither gender count. Keys may be null; they group like Spark's
    * null group key. */
  private[graft] def rollUp(rows: Iterable[Row]): (Seq[Row], Seq[Row], Seq[Row]) = {
    val m = mutable.LinkedHashMap.empty[String, Long]
    val cm = mutable.LinkedHashMap.empty[(String, String), (Long, java.math.BigDecimal)]
    val g = mutable.LinkedHashMap.empty[String, (Long, Long)]
    rows.foreach { r =>
      val (customer, merchant, gender, amt) =
        (r.getString(0), r.getString(1), r.getString(2), r.getDecimal(3))
      m(merchant) = m.getOrElse(merchant, 0L) + 1L
      val (cnt, sum) = cm.getOrElse((customer, merchant), (0L, null))
      cm((customer, merchant)) =
        (cnt + 1L, if (sum == null) amt else if (amt == null) sum else sum.add(amt))
      val (male, female) = g.getOrElse(merchant, (0L, 0L))
      g(merchant) = (male + (if (gender == "M") 1L else 0L),
        female + (if (gender == "F") 1L else 0L))
    }
    (m.toSeq.map { case (k, n) => Row(k, n) },
      cm.toSeq.map { case ((c, k), (n, amt)) => Row(c, k, n, amt) },
      g.toSeq.map { case (k, (male, female)) => Row(k, male, female) })
  }

  val detectionSchema: StructType = StructType(Seq(
    StructField("YStartTime", StringType),
    StructField("DetectionTime", StringType),
    StructField("PatternId", StringType),
    StructField("ActionType", StringType),
    StructField("CustomerName", StringType),
    StructField("MerchantId", StringType)))

  /** The reference's rows-per-detection-file contract
    * ("Mechanism Y.py":268-277): exact in parity mode's driver buffer,
    * the per-file target of the distributed sink. */
  private[streaming] val DetectionFileRows = 50

  /** Restart-safe detection dir: `detections_batch_<epoch>_<uuid8>` like
    * the reference ("Mechanism Y.py":274), written errorifexists — a
    * restarted run can never clobber a prior run's detections (a
    * sequence-numbered overwrite would restart at 0 and silently replace
    * them). */
  private def detectionDir(outDir: String, epochId: Long): String = {
    val uuid8 = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s"$outDir/detections_batch_${epochId}_$uuid8"
  }

  /** Distributed per-epoch detection sink (scale mode and the native
    * backend): executors write the epoch's detections directly — the
    * rows never visit the driver (parity mode's `collect()` buffer is
    * bounded by state size, which at 100 TB is exactly the thing that
    * grows). One dir per epoch, files sized ~[[DetectionFileRows]] rows
    * (round-robin fills partitions evenly; exact 50-row chunking across
    * batches is inherently a driver-serial operation). */
  private[streaming] def writeDetections(detections: DataFrame, outDir: String,
      epochId: Long): Unit = {
    detections.persist()
    try {
      val n = detections.count()
      if (n > 0)
        detections.repartition(((n + DetectionFileRows - 1) / DetectionFileRows).toInt)
          .write.option("header", "true").csv(detectionDir(outDir, epochId))
    } finally detections.unpersist()
  }

  /** S3: the chunk-CSV file stream on `session` (one file per trigger ⇒
    * ≤ chunk-size rows per batch). cleanSource stays disabled like the
    * reference ("Mechanism Y.py":106-107) — the checkpoint tracks
    * processed files. */
  private[streaming] def chunkStream(session: SparkSession, inputDir: String): DataFrame =
    session.readStream
      .format("csv")
      .schema(txStreamSchema)
      .option("header", "true")
      .option("escape", "\"") // feeder writes RFC4180 doubled quotes
      .option("maxFilesPerTrigger", 1)
      .load(inputDir)

  /** K5: run `perBatch` on every micro-batch of `stream` on a
    * processing-time trigger. */
  private[streaming] def startBatches(stream: DataFrame, checkpointDir: String,
      triggerInterval: String)(perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(perBatch)
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()

  /** IST wall-clock strings, the reference's timestamp contract
    * ("Mechanism Y.py":112-113). */
  def wallClock(): Patterns.Clock = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val now = java.time.ZonedDateTime.now(java.time.ZoneId.of("Asia/Kolkata"))
    Patterns.Clock(now.format(fmt), now.format(fmt))
  }
}
