package graft

import java.nio.file.Files
import graft.ingest.ChunkFeeder
import graft.ops.Patterns
import graft.state.JdbcUpsertStore
import graft.streaming.{MicroBatchRunner, NativeStatePipeline}
import graft.streaming.NativeStatePipeline.{FlatMapGroups, TransformWithStateApi}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The A7 native state backend ([[NativeStatePipeline]]): the three
  * state tables in Spark's own checkpointed state store must behave
  * exactly like the JDBC-externalized backend — identical detections,
  * identical reconstructed state — and survive a checkpoint restart. */
class NativeStateSpec extends AnyFunSuite {
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
    val base = Files.createTempDirectory("graft-native").toString
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
        NativeStatePipeline.merchantSummary(spark, s"$base/cp-native", FlatMapGroups),
        store.merchantSummary(spark)))
      val castAmt = (df: DataFrame) => df.withColumn("total_amount_sum",
        col("total_amount_sum").cast(DecimalType(28, 2)))
      assert(sameRows(
        castAmt(NativeStatePipeline.custMerchantSummary(spark, s"$base/cp-native", FlatMapGroups)),
        castAmt(store.custMerchantSummary(spark))))
      assert(sameRows(
        NativeStatePipeline.genderSummary(spark, s"$base/cp-native", FlatMapGroups),
        store.genderSummary(spark)))
    } finally store.close()
  }

  test("transformWithState backend (MapState per customer) == flatMapGroupsWithState backend") {
    val base = Files.createTempDirectory("graft-tws").toString
    val tx = refTx().cache()
    ChunkFeeder.feed(tx, s"$base/in", chunkSize = 2000)

    val fmgws = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out-fmgws", clock = () => Patterns.FixedClock)
    val q1 = fmgws.start(s"$base/in", s"$base/cp-fmgws", "1 second")
    q1.processAllAvailable(); q1.stop()

    val tws = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out-tws", clock = () => Patterns.FixedClock,
      api = NativeStatePipeline.TransformWithStateApi)
    val q2 = tws.start(s"$base/in", s"$base/cp-tws", "1 second")
    q2.processAllAvailable(); q2.stop()

    assert(detections(s"$base/out-fmgws").nonEmpty)
    assert(detections(s"$base/out-tws") == detections(s"$base/out-fmgws"))
    assert(sameRows(
      NativeStatePipeline.merchantSummary(spark, s"$base/cp-tws", TransformWithStateApi),
      NativeStatePipeline.merchantSummary(spark, s"$base/cp-fmgws", FlatMapGroups)))
    assert(sameRows(
      NativeStatePipeline.custMerchantSummary(spark, s"$base/cp-tws", TransformWithStateApi),
      NativeStatePipeline.custMerchantSummary(spark, s"$base/cp-fmgws", FlatMapGroups)))
    assert(sameRows(
      NativeStatePipeline.genderSummary(spark, s"$base/cp-tws", TransformWithStateApi),
      NativeStatePipeline.genderSummary(spark, s"$base/cp-fmgws", FlatMapGroups)))
  }

  test("TWS pipeline does not leak the RocksDB provider conf into the caller's session") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val base = Files.createTempDirectory("graft-tws-conf").toString
    val tx = refTx().limit(1000).cache()
    ChunkFeeder.feed(tx, s"$base/in", chunkSize = 1000)
    val tws = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock,
      api = NativeStatePipeline.TransformWithStateApi)
    val q = tws.start(s"$base/in", s"$base/cp", "1 second")
    q.processAllAvailable(); q.stop()
    assert(spark.conf.getOption(key) == before,
      "starting a TWS query must not mutate the shared session conf")
    // state actually landed (the cloned session really ran RocksDB)
    assert(NativeStatePipeline.merchantSummary(spark, s"$base/cp", TransformWithStateApi)
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0) == tx.count())
  }

  test("checkpoint restart restores transformWithState state (RocksDB)") {
    val base = Files.createTempDirectory("graft-tws-restart").toString
    val tx = refTx().cache()
    val half = tx.limit((tx.count() / 2).toInt).cache()

    ChunkFeeder.feed(half, s"$base/in", chunkSize = 1000)
    val p1 = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock,
      api = NativeStatePipeline.TransformWithStateApi)
    val q1 = p1.start(s"$base/in", s"$base/cp", "1 second")
    q1.processAllAvailable(); q1.stop()
    val afterFirst = NativeStatePipeline.merchantSummary(spark, s"$base/cp", TransformWithStateApi)
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
    assert(afterFirst == half.count())

    // a BRAND-NEW pipeline on the same checkpoint resumes RocksDB state
    ChunkFeeder.feed(tx, s"$base/in", chunkSize = 1000)
    val p2 = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock,
      api = NativeStatePipeline.TransformWithStateApi)
    val q2 = p2.start(s"$base/in", s"$base/cp", "1 second")
    q2.processAllAvailable(); q2.stop()
    val afterSecond = NativeStatePipeline.merchantSummary(spark, s"$base/cp", TransformWithStateApi)
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
    assert(afterSecond == afterFirst + tx.count())
  }

  test("checkpoint restart restores fMGWS state (no loss, no double count)") {
    val base = Files.createTempDirectory("graft-native-restart").toString
    val tx = refTx().cache()
    val half = tx.limit((tx.count() / 2).toInt).cache()

    ChunkFeeder.feed(half, s"$base/in", chunkSize = 1000)
    val p1 = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock)
    val q1 = p1.start(s"$base/in", s"$base/cp", "1 second")
    q1.processAllAvailable(); q1.stop()
    val afterFirst = NativeStatePipeline.merchantSummary(spark, s"$base/cp", FlatMapGroups)
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
    assert(afterFirst == half.count())

    // a BRAND-NEW pipeline on the same checkpoint resumes the state
    ChunkFeeder.feed(tx, s"$base/in", chunkSize = 1000)
    val p2 = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock)
    val q2 = p2.start(s"$base/in", s"$base/cp", "1 second")
    q2.processAllAvailable(); q2.stop()
    val afterSecond = NativeStatePipeline.merchantSummary(spark, s"$base/cp", FlatMapGroups)
      .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
    assert(afterSecond == afterFirst + tx.count())
  }

  /** The Spark jobs the stream itself starts in one native run of at
    * least 18 one-chunk epochs: the call site of each job carrying
    * `streaming.sql.batchId`, by batch id. */
  private def nativeRunJobs(api: NativeStatePipeline.StateApi): Map[Long, Seq[String]] = {
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
    val base = Files.createTempDirectory("graft-native-jobs").toString
    val tx = refTx().cache()
    val chunks = ChunkFeeder.feed(tx, s"$base/in", chunkSize = (tx.count() / 18).toInt)
    val p = new NativeStatePipeline(spark, Tables.importance(spark, sf),
      s"$base/out", clock = () => Patterns.FixedClock, api = api)
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

  private lazy val runJobs = Seq(FlatMapGroups, TransformWithStateApi)
    .map(api => api -> nativeRunJobs(api)).toMap

  test("native epoch: every Spark job of the stream names NativeStatePipeline as its call site") {
    for ((api, byBatch) <- runJobs) {
      val unnamed = byBatch.values.flatten.filterNot(_.startsWith("NativeStatePipeline."))
      assert(unnamed.isEmpty, s"$api: jobs without a NativeStatePipeline call site: $unnamed")
    }
  }

  test("native epoch: at most 5 Spark jobs in every epoch of a run of 18 or more one-chunk epochs") {
    for ((api, byBatch) <- runJobs; (batchId, jobs) <- byBatch)
      assert(jobs.length <= 5, s"$api epoch $batchId ran ${jobs.length} jobs: $jobs")
  }

  test("readout on a checkpoint with no committed batch fails and names the checkpoint") {
    val cp = Files.createTempDirectory("graft-native-nocommit").toString
    for (api <- Seq(FlatMapGroups, TransformWithStateApi)) {
      val e = intercept[Exception](
        NativeStatePipeline.merchantSummary(spark, cp, api).collect())
      assert(e.getMessage.contains("STDS_COMMITTED_BATCH_UNAVAILABLE"), e.getMessage)
      assert(e.getMessage.contains(cp), e.getMessage)
    }
  }
}
