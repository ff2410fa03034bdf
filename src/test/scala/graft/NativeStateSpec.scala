package graft

import graft.ingest.ChunkFeeder
import graft.ops.Patterns
import graft.state.JdbcUpsertStore
import graft.streaming.{MicroBatchRunner, NativeStatePipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The A7 native state backend ([[NativeStatePipeline]]): the three
  * state tables in Spark's own checkpointed state store must behave
  * exactly like the JDBC-externalized backend — identical detections,
  * identical reconstructed state — and survive a checkpoint restart. */
class NativeStateSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def refTx(): DataFrame =
    Tables.transactions(spark, sf).select(
      lit(0).as("step"),
      col("customer").cast("string").as("customer"),
      lit("3").as("age"),
      col("gender"),
      lit("28007").as("zipcodeOri"),
      col("merchant").cast("string").as("merchant"),
      lit("28007").as("zipMerchant"),
      col("category"),
      col("amount").cast("double").as("amount"),
      lit(0).as("fraud"))

  private def detections(dir: String): Set[Seq[String]] = {
    val dirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.isDirectory)
    if (dirs.isEmpty) Set.empty
    else spark.read.option("header", "true").csv(dirs.map(_.toString): _*)
      .collect().map(_.toSeq.map(v => Option(v).fold("")(_.toString))).toSet
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("N batches through the native backend == the JDBC scale-mode backend (detections + state)") {
    val base = tempDir("graft-native").toString
    val tx = refTx().cache()
    ChunkFeeder.feed(tx, s"$base/in", chunkSize = 2000)

    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      // JDBC scale mode over the chunk files
      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        s"$base/out-jdbc", clock = () => Patterns.FixedClock, scaleMode = true)
      val q1 = runner.start(s"$base/in", s"$base/cp-jdbc", "1 second")
      q1.processAllAvailable(); q1.stop()

      // native fMGWS pipeline over the SAME chunk files, own checkpoint
      val native = new NativeStatePipeline(spark, Tables.importance(spark, sf),
        s"$base/out-native", clock = () => Patterns.FixedClock)
      val q2 = native.start(s"$base/in", s"$base/cp-native", "1 second")
      q2.processAllAvailable(); q2.stop()

      val jdbcDets = detections(s"$base/out-jdbc")
      val nativeDets = detections(s"$base/out-native")
      assert(jdbcDets.nonEmpty)
      assert(nativeDets == jdbcDets)

      // state parity, all three tables
      assert(sameRows(
        NativeStatePipeline.merchantSummary(spark, s"$base/cp-native"),
        store.merchantSummary(spark)))
      val castAmt = (df: DataFrame) => df.withColumn("total_amount_sum",
        col("total_amount_sum").cast(DecimalType(28, 2)))
      assert(sameRows(
        castAmt(NativeStatePipeline.custMerchantSummary(spark, s"$base/cp-native")),
        castAmt(store.custMerchantSummary(spark))))
      assert(sameRows(
        NativeStatePipeline.genderSummary(spark, s"$base/cp-native"),
        store.genderSummary(spark)))
    } finally store.close()
  }

  test("a chunk row with no amount: native state == JDBC store state, the pair adds 0") {
    import org.apache.spark.sql.Row
    val base = tempDir("graft-native-null-amount").toString
    val ref = refTx()
    val rows = ref.limit(999).collect()
    val noAmount = (r: Row) => Row.fromSeq(r.toSeq.updated(ref.schema.fieldIndex("amount"), null))
    // a row with no amount in a pair that may have others, and one pair
    // whose only row has no amount
    val chunk = (noAmount(rows.head) +: rows.tail) :+ Row.fromSeq(
      noAmount(rows.head).toSeq.updated(ref.schema.fieldIndex("customer"), "900000001"))
    ChunkFeeder.feed(spark.createDataFrame(
      java.util.Arrays.asList(chunk: _*), ref.schema), s"$base/in", chunkSize = 1000)

    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        s"$base/out-jdbc", clock = () => Patterns.FixedClock)
      val q1 = runner.start(s"$base/in", s"$base/cp-jdbc", "1 second")
      q1.processAllAvailable(); q1.stop()

      val native = new NativeStatePipeline(spark, Tables.importance(spark, sf),
        s"$base/out-native", clock = () => Patterns.FixedClock)
      val q2 = native.start(s"$base/in", s"$base/cp-native", "1 second")
      q2.processAllAvailable(); q2.stop()
      assert(q2.exception.isEmpty, q2.exception)

      val cp = s"$base/cp-native"
      val castAmt = (df: DataFrame) => df.withColumn("total_amount_sum",
        col("total_amount_sum").cast(DecimalType(28, 2)))
      assert(sameRows(NativeStatePipeline.merchantSummary(spark, cp),
        store.merchantSummary(spark)))
      assert(sameRows(castAmt(NativeStatePipeline.custMerchantSummary(spark, cp)),
        castAmt(store.custMerchantSummary(spark))))
      assert(sameRows(NativeStatePipeline.genderSummary(spark, cp),
        store.genderSummary(spark)))
      val pair = NativeStatePipeline.custMerchantSummary(spark, cp)
        .filter(col("customer_id") === "900000001").collect()
      assert(pair.map(r => (r.getLong(2), r.getDecimal(3))).toSeq ==
        Seq((1L, new java.math.BigDecimal("0.00"))))
      assert(NativeStatePipeline.merchantSummary(spark, cp)
        .agg(sum(col("total_transactions"))).collect()(0).getLong(0) == chunk.length)
    } finally store.close()
  }

  test("checkpoint restart restores fMGWS state (no loss, no double count)") {
    val base = tempDir("graft-native-restart").toString
    val tx = refTx().cache()
    val half = tx.limit((tx.count() / 2).toInt).cache()

    ChunkFeeder.feed(half, s"$base/in", chunkSize = 1000)
    val p1 = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock)
    val q1 = p1.start(s"$base/in", s"$base/cp", "1 second")
    q1.processAllAvailable(); q1.stop()
    val afterFirst = NativeStatePipeline.merchantSummary(spark, s"$base/cp")
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
    assert(afterFirst == half.count())

    // a BRAND-NEW pipeline on the same checkpoint resumes the state
    ChunkFeeder.feed(tx, s"$base/in", chunkSize = 1000)
    val p2 = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock)
    val q2 = p2.start(s"$base/in", s"$base/cp", "1 second")
    q2.processAllAvailable(); q2.stop()
    val afterSecond = NativeStatePipeline.merchantSummary(spark, s"$base/cp")
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
    assert(afterSecond == afterFirst + tx.count())
  }

  /** The Spark jobs the stream itself starts in one native run of at
    * least 18 one-chunk epochs: the call site of each job carrying
    * `streaming.sql.batchId`, by batch id. */
  private lazy val runJobs: Map[Long, Seq[String]] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val barrier = "graft-job-barrier"
    val jobs = new ConcurrentLinkedQueue[(Long, String)]()
    val barrierSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.jobGroup.id").contains(barrier)) barrierSeen.countDown()
        prop("streaming.sql.batchId").foreach(id => jobs.add(id.toLong ->
          prop("callSite.short").getOrElse(e.stageInfos.maxBy(_.stageId).name)))
      }
    }
    val base = tempDir("graft-native-jobs").toString
    val tx = refTx().cache()
    val chunks = ChunkFeeder.feed(tx, s"$base/in", chunkSize = (tx.count() / 18).toInt)
    val p = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock)
    sc.addSparkListener(listener)
    try {
      val q = p.start(s"$base/in", s"$base/cp", "0 seconds")
      q.processAllAvailable(); q.stop()
      // the listener bus delivers in order: once the barrier shows, every
      // job of the run has too
      sc.setJobGroup(barrier, barrier)
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(barrierSeen.await(60, TimeUnit.SECONDS), "listener bus stalled")
    } finally {
      sc.removeSparkListener(listener)
      tx.unpersist()
    }
    val byBatch = jobs.toArray(Array.empty[(Long, String)]).toSeq.groupMap(_._1)(_._2)
    assert(chunks >= 18 && byBatch.size == chunks,
      s"${byBatch.size} epochs for $chunks one-chunk files")
    byBatch
  }

  test("native epoch: every Spark job of the stream names NativeStatePipeline as its call site") {
    val unnamed = runJobs.values.flatten.filterNot(_.startsWith("NativeStatePipeline."))
    assert(unnamed.isEmpty, s"jobs without a NativeStatePipeline call site: $unnamed")
  }

  test("native epoch: at most 5 Spark jobs in every epoch of a run of 18 or more one-chunk epochs") {
    for ((batchId, jobs) <- runJobs)
      assert(jobs.length <= 5, s"epoch $batchId ran ${jobs.length} jobs: $jobs")
  }

  test("readout on a checkpoint with no committed batch fails and names the checkpoint") {
    val cp = tempDir("graft-native-nocommit").toString
    val e = intercept[Exception](
      NativeStatePipeline.merchantSummary(spark, cp).collect())
    assert(e.getMessage.contains("STDS_COMMITTED_BATCH_UNAVAILABLE"), e.getMessage)
    assert(e.getMessage.contains(cp), e.getMessage)
  }
}
