package graftbench

import graft.Tables
import graft.ingest.ChunkFeeder
import graft.state.{JdbcUpsertStore, StateStore}
import graft.streaming.MicroBatchRunner
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The paper's Mechanism X→Y pipeline: the generated transactions are
  * fed as 10 000-row chunk files (ChunkFeeder.feed), then
  * MicroBatchRunner.start drains that backlog one chunk per trigger over
  * an in-memory Derby state store, in the default parity mode. The first
  * `warmup_batches` batches are untimed; the timed window runs from the
  * end of the last warm-up batch to the end of the last batch. */
object StreamRun {

  final case class Batch(id: Long, triggerMs: Long, durations: Map[String, Long],
      inputRows: Long, endNs: Long, endWallS: Double, endCpuS: Double, jvmMs: (Long, Long))

  /** Records every batch's progress with the time and process CPU at
    * which it arrived; in a traced run also lays the batch out as spans. */
  final class Progress(queryId: => java.util.UUID, lastBatch: Long, trace: Trace)
      extends StreamingQueryListener {
    val batches = ArrayBuffer.empty[Batch]
    val done = new CountDownLatch(1)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      done.countDown()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.id != queryId) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val b = Batch(p.batchId, d.getOrElse("triggerExecution", 0L), d, p.numInputRows,
        trace.now(), System.currentTimeMillis() / 1e3, Harness.cpuSeconds(), Harness.jvmMs())
      synchronized(batches += b)
      if (trace.enabled) layOut(b)
      if (p.batchId >= lastBatch) done.countDown()
    }
    /** Trigger span with its phases in execution order; the state spans
      * recorded on the stream thread hang under addBatch. */
    private def layOut(b: Batch): Unit = {
      val start = b.endNs - b.triggerMs * 1000000L
      val trig = trace.record("streaming.trigger", start, b.endNs, attrs = Map("batch" -> b.id))
      var t = start
      Seq("latestOffset" -> "ingest.latest_offset", "walCommit" -> "streaming.wal_commit",
          "getBatch" -> "ingest.get_batch", "queryPlanning" -> "streaming.query_planning",
          "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets")
        .foreach { case (k, name) =>
          val ms = b.durations.getOrElse(k, 0L)
          val id = trace.record(name, t, t + ms * 1000000L, trig, Map("batch" -> b.id))
          if (k == "addBatch")
            trace.adopt(id)(s => s.name.startsWith("state.") &&
              s.attrs.get("batch").contains(b.id.toString))
          t += ms * 1000000L
        }
    }
  }

  /** Delegating store that times applyDeltas per micro-batch. The reads
    * are lazy frames; their cost shows as executor time in the stages
    * that scan the JDBC relation (EngineListener). */
  final class TracingStore(inner: StateStore, trace: Trace, spark: SparkSession)
      extends StateStore {
    override def applyDeltas(m: DataFrame, cm: DataFrame, g: DataFrame,
        epochId: Option[Long]): Unit = {
      val batch = Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
        .getOrElse("none")
      trace.span("state.apply_deltas", Map("batch" -> batch))(
        inner.applyDeltas(m, cm, g, epochId))
    }
    override def merchantSummary(s: SparkSession): DataFrame = inner.merchantSummary(s)
    override def custMerchantSummary(s: SparkSession): DataFrame = inner.custMerchantSummary(s)
    override def genderSummary(s: SparkSession): DataFrame = inner.genderSummary(s)
    override def merchantSummaryFor(s: SparkSession, ids: Seq[String]): DataFrame =
      inner.merchantSummaryFor(s, ids)
    override def custMerchantSummaryFor(s: SparkSession, ids: Seq[String]): DataFrame =
      inner.custMerchantSummaryFor(s, ids)
    override def genderSummaryFor(s: SparkSession, ids: Seq[String]): DataFrame =
      inner.genderSummaryFor(s, ids)
    override def close(): Unit = inner.close()
  }

  def apply(spark: SparkSession, spec: Harness.Spec, trace: Trace,
      engine: EngineListener, out: java.util.Map[String, AnyRef]): Unit = {
    val chunks = spec.int("chunks")
    val warmup = spec.int("warmup_batches")
    val inputDir = spec.str("input_dir")
    val sinkDir = spec.str("sink_dir")

    val t0 = System.nanoTime()
    val written = trace.span("ingest.feed") {
      val tx = spark.read.schema(MicroBatchRunner.txStreamSchema)
        .option("header", "true").csv(spec.str("tx_csv"))
      ChunkFeeder.feed(tx, inputDir, spec.int("chunk_rows"))
    }
    out.put("feed_s", Double.box(Harness.seconds(t0)))
    require(written == chunks, s"fed $written chunk files, expected $chunks")

    val raw = JdbcUpsertStore.derbyMemory(spec.str("derby_name"))
    val store = if (trace.enabled) new TracingStore(raw, trace, spark) else raw
    val importance = Tables.importanceFromCsv(spark, spec.str("importance_csv"))
    val runner = new MicroBatchRunner(spark, store, importance, sinkDir)

    var queryId: java.util.UUID = null
    val progress = new Progress(queryId, chunks - 1, trace)
    spark.streams.addListener(progress)
    val probeBefore = Harness.Probe.burst(spec.int("cores"), Harness.ProbeSeconds)
    val query = runner.start(inputDir, spec.str("checkpoint_dir"), "0 seconds")
    queryId = query.id
    try {
      query.processAllAvailable()
      require(progress.done.await(120, TimeUnit.SECONDS), "last batch never reported")
    } finally query.stop()
    query.exception.foreach(e => throw e)
    val probeAfter = Harness.Probe.burst(spec.int("cores"), Harness.ProbeSeconds)
    val heapMb = Harness.liveHeapMb()
    spark.streams.removeListener(progress)
    val persisted = spark.sparkContext.getPersistentRDDs.size

    // the trailing partial detection file, written outside the timed work
    def sinkDirs(): Set[String] =
      Option(new java.io.File(sinkDir).list()).map(_.toSet).getOrElse(Set.empty)
    val before = sinkDirs()
    runner.flushRemainder()
    val remainder = sinkDirs() -- before

    val batches = progress.synchronized(progress.batches.sortBy(_.id).toList)
    require(batches.map(_.id) == (0L until chunks.toLong).toList,
      s"batch ids ${batches.map(_.id)} != 0..${chunks - 1}")
    val start = batches(warmup - 1)
    val timed = batches.drop(warmup)
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("window_start_wall_s", Double.box(start.endWallS))
    m.put("work_s", Double.box((timed.last.endNs - start.endNs) / 1e9))
    m.put("cpu_s", Double.box(timed.last.endCpuS - start.endCpuS))
    m.put("heap_live_mb", Double.box(heapMb))
    Harness.putProbe(probeBefore, probeAfter, m)
    m.put("jit_ms", Long.box(timed.last.jvmMs._1 - start.jvmMs._1))
    m.put("gc_ms", Long.box(timed.last.jvmMs._2 - start.jvmMs._2))
    m.put("batch_s", timed.map(b => Double.box(b.triggerMs / 1e3)).asJava)
    m.put("warmup_batch_s", batches.take(warmup).map(b => Double.box(b.triggerMs / 1e3)).asJava)
    m.put("num_input_rows", batches.map(b => Long.box(b.inputRows)).asJava)
    m.put("persisted_rdds", Int.box(persisted))
    m.put("remainder_dirs", remainder.toList.asJava)
    out.put("stream", m)

    if (trace.enabled) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val timedTag: String => Boolean = t =>
        t.startsWith("batch:") && t.stripPrefix("batch:").toLong >= warmup
      out.put("engine", engine.total(timedTag).toJava)
      out.put("jobs_per_batch", engine.jobsByTag(timedTag).values.map(Long.box).toList.asJava)
      out.put("jdbc_read_ms_per_batch", timed.map(b => Long.box(
        engine.total(_ == s"batch:${b.id}").jdbcTaskMs)).asJava)
      val applyMs = trace.all.filter(_.name == "state.apply_deltas")
        .groupBy(_.attrs("batch").toString).map { case (b, ss) => b -> ss.map(_.ms).sum }
      out.put("phases_ms", timed.map { b =>
        val r = new java.util.LinkedHashMap[String, AnyRef]()
        b.durations.foreach { case (k, v) => r.put(k, Long.box(v)) }
        r.put("applyDeltas", Double.box(applyMs.getOrElse(b.id.toString, 0.0)))
        r
      }.asJava)
    }

    // final state, read through the store's public reads, for run.py's
    // comparison with a plain aggregation of the generated input
    val dump = spec.str("state_dump_dir")
    Files.createDirectories(Paths.get(dump))
    Seq("merchant_summary" -> store.merchantSummary(spark),
        "customer_merchant_summary" -> store.custMerchantSummary(spark),
        "merchant_gender_summary" -> store.genderSummary(spark)).foreach { case (n, df) =>
      val rows = df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString(","))
      Files.writeString(Paths.get(s"$dump/$n.csv"),
        (df.columns.map(_.toLowerCase).mkString(",") +: rows.toSeq).mkString("", "\n", "\n"))
    }
    store.close()
  }
}
