package graft

import java.nio.file.Files
import graft.ingest.ChunkFeeder
import graft.ops.Patterns
import graft.state.JdbcUpsertStore
import graft.streaming.MicroBatchRunner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: ChunkFeeder (Mechanism X) → file-stream →
  * MicroBatchRunner (Mechanism Y) → Derby state → detection CSVs.
  * Asserts the SURVEY.md §5.3 invariants: state parity with a batch-mode
  * recomputation, 50-row detection files, and the 6-string-column
  * contract. */
class StreamingSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  /** Transactions in the reference's full 10-column CSV shape
    * ("Mechanism Y.py":35-41): the testdata view supplies
    * customer/merchant/category/amount/gender; age/zipcodes/fraud are
    * constant filler like the BankSim dataset's mostly-constant columns. */
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

  test("chunked stream end-to-end: state parity + detection file contract") {
    val base = tempDir("graft-stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val cp = s"$base/cp"
    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      val tx = refTx()
      val nChunks = ChunkFeeder.feed(tx, inDir, chunkSize = 2000)
      assert(nChunks == math.ceil(tx.count() / 2000.0).toInt)

      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        outDir, clock = () => Patterns.FixedClock)
      val q = runner.start(inDir, cp, triggerInterval = "1 second")
      q.processAllAvailable()
      q.stop()
      runner.flushRemainder()

      // state parity: cumulative Derby state == one-shot aggregation
      val want = tx.groupBy(col("merchant").cast("string").as("merchant_id"))
        .agg(count(lit(1)).as("total_transactions"))
      val got = store.merchantSummary(spark)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

      // detection files: header + 6 string columns, 50 rows per full file
      val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      assert(dirs.nonEmpty)
      // restart-safe naming: detections_batch_<epoch>_<uuid8>
      assert(dirs.forall(_.getName.matches("detections_batch_\\d+_[0-9a-f]{8}")))
      val all = spark.read.option("header", "true").csv(dirs.map(_.toString): _*)
      assert(all.columns.toSeq == MicroBatchRunner.detectionSchema.fieldNames.toSeq)
      val sizes = dirs.map(d => spark.read.option("header", "true")
        .csv(d.toString).count())
      assert(sizes.count(_ == 50) >= sizes.length - 1) // all full except ≤1 trailing
      // detections eventually fire (cumulative state crosses thresholds)
      assert(all.count() > 0)
    } finally store.close()
  }

  test("checkpoint restart (new runner) resumes without reprocessing or clobbering") {
    val base = tempDir("graft-restart").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val cp = s"$base/cp"
    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      val tx = refTx().cache()
      val half = tx.limit((tx.count() / 2).toInt)
      ChunkFeeder.feed(half, inDir, chunkSize = 1000)
      val runner1 = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        outDir, clock = () => Patterns.FixedClock)
      val q1 = runner1.start(inDir, cp, triggerInterval = "1 second")
      q1.processAllAvailable(); q1.stop()
      runner1.flushRemainder()
      val afterFirst = store.merchantSummary(spark)
        .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
      assert(afterFirst == half.count())
      val preDirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
        .map(d => d.getName ->
          spark.read.option("header", "true").csv(d.toString).count()).toMap
      assert(preDirs.nonEmpty) // the first run flushed detections

      // second feed into the SAME directory — the ts+uuid8 chunk names
      // are unique, so no custom prefix is needed for the checkpoint's
      // seen-file log to treat these as new files. A brand-new runner
      // simulates a process restart (fresh flush state).
      ChunkFeeder.feed(tx, inDir, chunkSize = 1000)
      val runner2 = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        outDir, clock = () => Patterns.FixedClock)
      val q2 = runner2.start(inDir, cp, triggerInterval = "1 second")
      q2.processAllAvailable(); q2.stop()
      runner2.flushRemainder()
      val afterSecond = store.merchantSummary(spark)
        .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
      assert(afterSecond == afterFirst + tx.count())

      // pre-restart detection files survive the restarted run untouched
      val postDirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
        .map(d => d.getName ->
          spark.read.option("header", "true").csv(d.toString).count()).toMap
      for ((name, n) <- preDirs)
        assert(postDirs.get(name).contains(n), s"pre-restart $name clobbered")
      assert(postDirs.size > preDirs.size) // and the restarted run added its own
    } finally store.close()
  }

  test("distributed feeder: executor-written chunks stream to the same state as the driver feed") {
    val base = tempDir("graft-dist-feed").toString
    val inDir = s"$base/in"
    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      val tx = refTx().cache()
      val nChunks = ChunkFeeder.feedDistributed(tx, inDir, chunkSize = 2000)
      assert(nChunks == math.ceil(tx.count() / 2000.0).toInt)
      val files = new java.io.File(inDir).listFiles().map(_.getName)
      assert(files.length == nChunks)
      // same naming contract as the driver feeder
      assert(files.forall(_.matches(
        "transactions_chunk_\\d{8}_\\d{6}_[0-9a-f]{8}_part\\d{5}\\.csv")))
      // every chunk holds <= chunkSize rows (+1 header line)
      assert(files.forall { f =>
        scala.io.Source.fromFile(s"$inDir/$f").getLines().size <= 2001
      })

      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        s"$base/out", clock = () => Patterns.FixedClock)
      val q = runner.start(inDir, s"$base/cp", triggerInterval = "1 second")
      q.processAllAvailable(); q.stop()
      runner.flushRemainder()

      // exact state parity with a one-shot aggregation == what the
      // driver-side feed produces (StreamingSpec's first test)
      val want = tx.groupBy(col("merchant").cast("string").as("merchant_id"))
        .agg(count(lit(1)).as("total_transactions"))
      val got = store.merchantSummary(spark)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally store.close()
  }

  test("chunk names follow the reference scheme with an IST timestamp") {
    val base = tempDir("graft-names").toString
    ChunkFeeder.feed(refTx().limit(10), s"$base/in", chunkSize = 1000)
    val names = new java.io.File(s"$base/in").listFiles().map(_.getName)
    assert(names.nonEmpty)
    // <prefix>_<YYYYMMDD_HHMMSS>_<uuid8>_part<n>.csv (mechanism_x.py:80-82)
    assert(names.forall(_.matches(
      "transactions_chunk_\\d{8}_\\d{6}_[0-9a-f]{8}_part\\d{5}\\.csv")))
    // the timestamp is IST wall-clock, not host-local
    val parts = names.head.split("_")
    val stamp = java.time.LocalDateTime.parse(s"${parts(2)}_${parts(3)}",
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val nowIst = java.time.ZonedDateTime
      .now(java.time.ZoneId.of("Asia/Kolkata")).toLocalDateTime
    assert(math.abs(java.time.Duration.between(stamp, nowIst).getSeconds) < 600)
  }

  test("empty batch is a no-op (guard)") {
    val base = tempDir("graft-empty").toString
    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        s"$base/out", clock = () => Patterns.FixedClock)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        MicroBatchRunner.txStreamSchema)
      runner.processBatch(empty, 0L)
      assert(store.merchantSummary(spark).isEmpty)
    } finally store.close()
  }

  test("S5: a state-read failure falls back to empty frames; the batch survives") {
    val base = tempDir("graft-s5").toString
    val store = JdbcUpsertStore.derby(s"$base/derby")
    // reads fail (simulating a transient DB blip at read time); writes work
    val blipped = new graft.state.StateStore {
      override def applyDeltas(m: DataFrame, cm: DataFrame, g: DataFrame,
          epochId: Option[Long]): Unit = store.applyDeltas(m, cm, g, epochId)
      override def merchantSummary(s: SparkSession): DataFrame =
        throw new RuntimeException("db down")
      override def custMerchantSummary(s: SparkSession): DataFrame =
        throw new RuntimeException("db down")
      override def genderSummary(s: SparkSession): DataFrame =
        throw new RuntimeException("db down")
    }
    try {
      val runner = new MicroBatchRunner(spark, blipped, Tables.importance(spark, sf),
        s"$base/out", clock = () => Patterns.FixedClock)
      runner.processBatch(refTx().limit(500), 0L) // must not throw
      // the batch's state writes still landed
      assert(store.merchantSummary(spark).count() > 0)
    } finally store.close()
  }

  test("scale mode: keyed state reads yield the same detections when the batch touches all merchants") {
    val base = tempDir("graft-scale").toString
    val batch = refTx().cache()
    def run(scale: Boolean): Set[Seq[String]] = {
      val tag = if (scale) "scale" else "parity"
      val store = JdbcUpsertStore.derby(s"$base/derby-$tag")
      try {
        val outDir = s"$base/out-$tag"
        val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
          outDir, clock = () => Patterns.FixedClock, scaleMode = scale)
        runner.processBatch(batch, 0L)
        runner.flushRemainder()
        val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
        if (dirs.isEmpty) Set.empty
        else spark.read.option("header", "true").csv(dirs.map(_.toString): _*)
          .collect().map(_.toSeq.map(v => Option(v).fold("")(_.toString))).toSet
      } finally store.close()
    }
    val parity = run(scale = false)
    val scaled = run(scale = true)
    assert(parity.nonEmpty)
    assert(scaled == parity)
  }

  test("parity detection plan: pattern filters push into the state scans, no cached JDBC read") {
    import org.apache.spark.sql.execution.{QueryExecution, RowDataSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    val plans = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.put(qe)
    }
    val base = tempDir("graft-plan").toString
    val store = JdbcUpsertStore.derby(s"$base/derby")
    spark.listenerManager.register(listener)
    val executed = try {
      new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        s"$base/out", clock = () => Patterns.FixedClock).processBatch(refTx(), 0L)
      // a barrier action: the listener bus delivers in order, so once it
      // shows, every action processBatch ran has too
      spark.range(1).toDF("graft_plan_barrier").collect()
      Iterator.continually(Option(plans.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("listener bus stalled")))
        .takeWhile(!_.analyzed.output.exists(_.name == "graft_plan_barrier")).toList
    } finally {
      spark.listenerManager.unregister(listener)
      store.close()
    }
    object Aqe extends AdaptiveSparkPlanHelper
    val cmsScans = executed.flatMap(qe => Aqe.collect(qe.executedPlan) {
      case s: RowDataSourceScanExec
          if s.relation.toString.contains("customer_merchant_summary") => s
    })
    val pushed = cmsScans.map(_.metadata.getOrElse("PushedFilters", ""))
    val cfg = Patterns.DefaultConfig
    assert(pushed.exists(_.contains(s"GreaterThan(TRANSACTION_COUNT,${cfg.custTxThreshold})")),
      pushed)
    assert(pushed.exists(_.contains(s"GreaterThanOrEqual(TRANSACTION_COUNT,${cfg.childTxMin})")),
      pushed)
    val cachedJdbc = executed.flatMap(_.withCachedData.collect {
      case r: InMemoryRelation if r.cacheBuilder.cachedPlan.toString.contains("JDBCRelation") => r
    })
    assert(cachedJdbc.isEmpty, cachedJdbc)
  }

  /** One parity `processBatch` over the whole of `refTx()` on a fresh
    * store: the call site of every Spark job it starts, in submission
    * order, the executed plan of every action, and the number of
    * detection dirs it wrote.
    * The batch is cached and counted first, so its own lineage starts
    * no job inside the window. */
  private def parityBatchJobs()
      : (Seq[String], Seq[org.apache.spark.sql.execution.SparkPlan], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    val sc = spark.sparkContext
    val barrier = "graft-job-barrier"
    // (job group, call site) per job; a job started without a named
    // call site shows its newest stage's name, which is Spark's own
    val jobs = new LinkedBlockingQueue[(String, String)]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        jobs.put((props.map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""),
          props.flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse(e.stageInfos.maxBy(_.stageId).name)))
      }
    }
    val plans = new LinkedBlockingQueue[QueryExecution]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.put(qe)
    }
    val base = tempDir("graft-jobs").toString
    val store = JdbcUpsertStore.derby(s"$base/derby")
    val batch = refTx().cache()
    try {
      batch.count()
      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        s"$base/out", clock = () => Patterns.FixedClock)
      def drain[T](q: LinkedBlockingQueue[T])(isBarrier: T => Boolean): List[T] =
        Iterator.continually(Option(q.poll(60, TimeUnit.SECONDS))
            .getOrElse(fail("listener bus stalled")))
          .takeWhile(!isBarrier(_)).toList
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      try {
        runner.processBatch(batch, 0L)
        // the listener buses deliver in order: once the barrier shows,
        // every job and action of processBatch has too. Both queues drain
        // to their barrier before the listeners go: delivery is
        // asynchronous, so a listener removed earlier can miss it
        sc.setJobGroup(barrier, barrier)
        try spark.range(1).toDF(barrier).collect() finally sc.clearJobGroup()
        (drain(jobs)(_._1 == barrier).map(_._2),
          drain(plans)(_.analyzed.output.exists(_.name == barrier)).map(_.executedPlan),
          Option(new java.io.File(s"$base/out").listFiles()).fold(0)(_.count(_.isDirectory)))
      } finally {
        sc.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
      }
    } finally {
      batch.unpersist()
      store.close()
    }
  }

  test("parity processBatch: every Spark job names the runner or the store as its call site") {
    val (jobs, _, _) = parityBatchJobs()
    assert(jobs.nonEmpty)
    val unnamed = jobs.filterNot(n =>
      n.startsWith("MicroBatchRunner.") || n.startsWith("JdbcUpsertStore."))
    assert(unnamed.isEmpty, s"jobs without a graft call site: $unnamed")
  }

  test("parity processBatch: at most 3 Spark jobs, its flush writes included, no sort-merge join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val (jobs, plans, detectionDirs) = parityBatchJobs()
    assert(detectionDirs >= 1, "the batch flushed no detection file, so the bound covers no flush")
    assert(jobs.length <= 3, s"${jobs.length} jobs: $jobs")
    object Aqe extends AdaptiveSparkPlanHelper
    val smj = plans.flatMap(p => Aqe.collect(p) { case j: SortMergeJoinExec => j })
    assert(smj.isEmpty, smj.mkString("\n"))
  }

  /** 50 detection rows over every value kind the CSV writer treats
    * specially: empty, null, separator, quote, newline, backslash,
    * surrounding blanks, non-ASCII. */
  private def awkwardDetections(): Seq[org.apache.spark.sql.Row] = {
    val kinds = Seq("", null, "a,b", "say \"hi\"", "line1\nline2", "back\\slash",
      "  padded  ", "caf\u00e9 \u20ac \u4e2d", "\\\"", "PatId1")
    (0 until 50).map(i => org.apache.spark.sql.Row.fromSeq(
      (0 until 6).map(c => kinds((i + c) % kinds.length))))
  }

  test("parity detection file: driver-written bytes == Spark's coalesce(1).write.csv for the same rows") {
    val base = tempDir("graft-detfile").toString
    val rows = awkwardDetections()
    val ours = s"$base/ours"; val sparks = s"$base/spark"
    MicroBatchRunner.writeDetectionFile(spark, rows, ours)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), MicroBatchRunner.detectionSchema)
      .coalesce(1).write.option("header", "true").csv(sparks)
    def visible(dir: String) =
      new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    def part(dir: String) = visible(dir).filter(_.startsWith("part-"))
    // one part file in Spark's name shape, plus _SUCCESS, nothing else
    assert(visible(ours).length == 2 && visible(ours).contains("_SUCCESS"), visible(ours))
    assert(part(ours).head.matches("part-00000-[0-9a-f-]{36}-c000\\.csv"), part(ours))
    def bytes(dir: String) =
      Files.readAllBytes(java.nio.file.Paths.get(dir, part(dir).head)).toSeq
    def text(dir: String) = new String(bytes(dir).toArray, "UTF-8")
    assert(bytes(sparks).length > 0)
    assert(bytes(ours) == bytes(sparks), s"ours:\n${text(ours)}\nSpark's:\n${text(sparks)}")
    def back(dir: String) = spark.read.option("header", "true").option("multiLine", "true")
      .csv(dir).collect().toSeq
    assert(back(ours).length == 50)
    assert(back(ours) == back(sparks))
  }

  test("parity detection file: writing into an existing dir fails and names the path") {
    val dir = tempDir("graft-detfile-exists").toString
    val e = intercept[java.io.IOException](
      MicroBatchRunner.writeDetectionFile(spark, awkwardDetections(), dir))
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(new java.io.File(dir).list().isEmpty, "the failed write left files behind")
  }

  test("scale mode: detections write distributed (no driver buffer), files sized to the batch contract") {
    val base = tempDir("graft-scale-sink").toString
    val store = JdbcUpsertStore.derby(s"$base/derby")
    try {
      val outDir = s"$base/out"
      val runner = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        outDir, clock = () => Patterns.FixedClock, scaleMode = true)
      runner.processBatch(refTx(), 7L)
      val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      assert(dirs.length == 1 && dirs.head.getName.startsWith("detections_batch_7_"))
      val parts = dirs.head.listFiles().filter(_.getName.endsWith(".csv"))
      assert(parts.nonEmpty)
      val counts = parts.map { f =>
        spark.read.option("header", "true").csv(f.toString).count()
      }
      // round-robin repartition over ceil(n/50) files: each within a
      // couple rows of the 50-row contract, none wildly over
      assert(counts.forall(_ <= 52), s"part sizes: ${counts.toSeq}")
      // and the remainder path has nothing buffered driver-side
      runner.flushRemainder()
      assert(new java.io.File(outDir).listFiles().count(_.isDirectory) == 1)
    } finally store.close()
  }

  test("jsonl source: documents round-trip losslessly; corrupt lines quarantine, not fail") {
    import graft.ingest.JsonlSource
    val base = tempDir("graft-jsonl").toString
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "lang", "source", "n_chars").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toMap
    // round-trip the real documents table
    val docs = Tables.documents(spark, sf)
    JsonlSource.writeDocuments(docs, s"$base/docs")
    val back = JsonlSource.goodDocuments(spark, s"$base/docs")
    assert(key(back) == key(docs) && key(docs).nonEmpty)
    // a crawler batch with a torn line: good rows parse, the bad line
    // lands in quarantine verbatim, nothing throws
    // the torn line quarantines; a blank separator line belongs to
    // NEITHER stream (the native json source ignores it); a parseable
    // non-object line ('null', a bare scalar) must quarantine, not slip
    // through as a phantom all-null document — from_json returns a null
    // STRUCT for those, which the old corrupt-record-only filter passed
    val mixed = Seq(
      """{"doc_id": 1, "text": "fine", "lang": "en", "source": "s", "n_chars": 4}""",
      "",
      """{"doc_id": 2, "text": "also fine", "lang": "en", "source": "s", "n_chars": 9}""",
      "null",
      "3",
      """{"doc_id": 3, "text": "torn""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/mixed.jsonl"),
      mixed.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val good = JsonlSource.goodDocuments(spark, s"$base/mixed.jsonl")
    assert(good.count() == 2 &&
      key(good) == Map(1L -> ("fine", "en", "s", 4L), 2L -> ("also fine", "en", "s", 9L)))
    val bad = JsonlSource.corruptLines(spark, s"$base/mixed.jsonl")
      .collect().map(_.getString(0)).toSet
    assert(bad == Set("null", "3", mixed(5)),
      s"quarantine stream read $bad")
  }

  test("curation loop: streamed micro-batches == batch-mode pipeline; index grows only by kept docs") {
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate").toString

    val textA = "the river flows gently through a green valley where tall trees stand in quiet morning light"
    val textB = "bright stars fill the night sky and a cool wind moves softly over sleeping hills far away"
    val textC = "please send a note to alice@example.com and the team will reply in a day or two with detailed answers"
    val textD = "a small boat drifts slowly across the calm blue lake while distant mountains rise sharply against clear skies"
    val textE = "old books line the wooden shelves of a dusty library where scholars read ancient pages in silence"
    // holdout item for the decontam stage; doc 22 embeds a verbatim
    // 13-gram of it inside otherwise-keepable text
    val benchText = "seventeen golden lanterns swing above the narrow harbor " +
      "street while fishermen mend their long nets before the evening tide arrives"
    val contaminated = "a tourist wrote that seventeen golden lanterns swing " +
      "above the narrow harbor street while fishermen mend their nets happily"
    val batches = Seq(
      // batch 0: two keepers + a too-short doc the quality gate drops
      Seq((1L, textA), (2L, textB), (3L, "zzz qqq xxx")),
      // batch 1: a copy of an already-curated doc (probe drops it), a
      // PII doc (kept, scrubbed), and a within-batch near-dup pair
      // (13 appends one word to 12 → exact Jaccard 16/17; 12 survives)
      Seq((10L, textA), (11L, textC), (12L, textD), (13L, textD + " everywhere")),
      // batch 2: a cross-batch copy of batch 1's kept doc 12, a keeper,
      // and a benchmark-contaminated doc the decontam screen drops
      Seq((20L, textD), (21L, textE), (22L, contaminated)))
    val wantKept = Set(1L, 2L, 11L, 12L, 21L)
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")

    // batch mode: drive processBatch by hand
    val bm = new CurationPipeline(spark, s"$base/idxA", s"$base/outA",
      benchmark = Some(bench))
    batches.zipWithIndex.foreach { case (b, i) =>
      bm.processBatch(b.toDF("doc_id", "text"), i.toLong)
    }
    // at-least-once replay (a crash between foreachBatch and checkpoint
    // commit re-delivers a batch): re-processing must be a no-op
    bm.processBatch(batches(1).toDF("doc_id", "text"), 1L)

    // streaming mode: same batches as one parquet file each, mtimes
    // spaced so the file source's timestamp order IS the batch order
    val inDir = new java.io.File(s"$base/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$base/tmp$i"
      b.toDF("doc_id", "text").repartition(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inDir, f"batch$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val sm = new CurationPipeline(spark, s"$base/idxB", s"$base/outB",
      benchmark = Some(bench))
    val q = sm.start(inDir.toString, s"$base/cp")
    q.processAllAvailable()
    q.stop()

    def kept(out: String): Set[(Long, String)] =
      spark.read.parquet(s"$out/kept").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val keptBatch = kept(s"$base/outA")
    val keptStream = kept(s"$base/outB")
    assert(keptStream == keptBatch)
    assert(keptBatch.map(_._1) == wantKept)
    // the PII doc was scrubbed before publication
    val t11 = keptBatch.find(_._1 == 11L).get._2
    assert(t11.contains("[EMAIL]") && !t11.contains("alice@example.com"))
    // drop attribution: every drop lands on the stage that caused it,
    // in both batch and streaming mode
    for (out <- Seq(s"$base/outA", s"$base/outB")) {
      val m = spark.read.parquet(s"$out/metrics")
        .select("epoch", "n_in", "drop_index_dup", "drop_self_dup",
          "drop_contaminated", "drop_quality", "drop_lm", "n_kept")
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getLong(7))).toMap
      assert(m(0) == ((3L, 0L, 0L, 0L, 1L, 0L, 2L)), s"$out epoch 0: ${m(0)}")
      assert(m(1) == ((4L, 1L, 1L, 0L, 0L, 0L, 2L)), s"$out epoch 1: ${m(1)}")
      assert(m(2) == ((3L, 1L, 0L, 1L, 0L, 0L, 1L)), s"$out epoch 2: ${m(2)}")
    }
    // the index grew by exactly the kept docs
    for (idx <- Seq(s"$base/idxA", s"$base/idxB")) {
      val ids = spark.read.parquet(s"$idx/sets")
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.toSet == wantKept)
      // the replay folded nothing twice: one set row per kept doc
      assert(ids.length == wantKept.size, s"$idx has duplicate index rows")
    }
  }

  test("curation loop: containment screen drops a doc quoted inside the curated corpus") {
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val long = "the river flows gently through a green valley where tall " +
      "trees stand in quiet morning light and old books line the wooden " +
      "shelves of a dusty library where scholars read ancient pages in silence"
    val other = "bright stars fill the night sky and a cool wind moves " +
      "softly over sleeping hills far away from the coast"
    // a verbatim contiguous excerpt of `long`: every shingle is a
    // subset, so containment = 1.0 while Jaccard is far below 0.6
    val excerpt = "a green valley where tall trees stand in quiet morning " +
      "light and old books line the wooden shelves"
    val keeper = "small waves lap against the old stone pier while white " +
      "gulls circle slowly in the warm afternoon air"
    val batches = Seq(
      Seq((1L, long), (2L, other)),
      Seq((10L, excerpt), (11L, keeper)))

    def run(base: String, contain: Option[Double]): (Set[Long], Map[Int, (Long, Long)]) = {
      val p = new CurationPipeline(spark, s"$base/idx", s"$base/out",
        containment = contain)
      batches.zipWithIndex.foreach { case (b, i) =>
        p.processBatch(b.toDF("doc_id", "text"), i.toLong)
      }
      val kept = spark.read.parquet(s"$base/out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val m = spark.read.parquet(s"$base/out/metrics")
        .select("epoch", "drop_contained", "n_kept")
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      (kept, m)
    }
    val baseOff = tempDir("graft-curate-cont-off").toString
    val baseOn = tempDir("graft-curate-cont-on").toString
    // WITHOUT the screen, nothing else catches the quote: the banded
    // probe never candidates a low-Jaccard subset pair
    val (keptOff, mOff) = run(baseOff, None)
    assert(keptOff == Set(1L, 2L, 10L, 11L), keptOff.toString)
    assert(mOff(1) == ((0L, 2L)), mOff.toString)
    // WITH it, the quoted doc drops with its own attribution column
    val (keptOn, mOn) = run(baseOn, Some(0.8))
    assert(keptOn == Set(1L, 2L, 11L), keptOn.toString)
    assert(mOn(1) == ((1L, 1L)), mOn.toString)
    // and the index only ever grew by kept docs
    val ids = spark.read.parquet(s"$baseOn/idx/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L))
  }

  test("curation loop: NFC ingest unifies composed and decomposed duplicate docs") {
    import graft.llm.Dedup
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate-nfc").toString
    val composed = "the café stands in a quiet résumé valley " +
      "where naïve travelers walk to the old stone bridge daily"
    val decomposed = composed
      .replace("é", "e\u0301").replace("ï", "i\u0308")
    assert(decomposed != composed) // different bytes, same visible text
    // WITHOUT normalization the byte forms share too few shingles to
    // count as duplicates — the drop below is normalization's doing
    val rawPairs = Dedup.ngramJaccardFromSets(Dedup.shingleSets(
      Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text")), 0.6)
    assert(rawPairs.isEmpty)
    val p = new CurationPipeline(spark, s"$base/idx", s"$base/out")
    p.processBatch(Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text"), 0L)
    val kept = spark.read.parquet(s"$base/out/kept")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // doc 2 normalized to the same bytes as doc 1 -> exact self-dup,
    // min-id keeper; the published form is NFC
    assert(kept.keySet == Set(1L))
    assert(kept(1L) == composed)
  }

  test("curation loop: reference-LM gate drops reference-unlike survivors") {
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate-lm").toString
    val refSentences = Seq(
      "the river flows gently through a green valley where tall trees stand in quiet morning light",
      "bright stars fill the night sky and a cool wind moves softly over sleeping hills far away",
      "a small boat drifts slowly across the calm blue lake while distant mountains rise sharply against clear skies",
      "old books line the wooden shelves of a dusty library where scholars read ancient pages in silence",
      "warm rain falls on the quiet garden and a soft mist rises over the sleeping flowers at dawn")
    // x3 sharpens the seen-vs-unseen likelihood gap the floor sits in
    val ref = (0 until 3).flatMap(r => refSentences.zipWithIndex.map {
      case (t, i) => (100L + r * 10 + i, t) }).toDF("doc_id", "text")
    // both pass every hard quality rule (length, stopwords, alpha,
    // repeats); only the LM can tell them apart
    val natural =
      "the river flows gently through a green valley where old books line the wooden shelves in quiet light"
    val gibberish =
      "the brumple of zanvik and quorpel to wimbly in frosnak is drentch vexilon morpat and zingle crabnod"
    val batch = Seq((1L, natural), (2L, gibberish)).toDF("doc_id", "text")

    // separation sanity: the floor sits between the two scores
    val floor = -3.2
    val (uni, bi) = graft.llm.TextOps.lmModelTables(ref)
    val scores = graft.llm.TextOps.lmScoreUnderModel(batch, uni, bi)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(scores(1L) >= floor && scores(2L) < floor,
      s"floor $floor does not separate $scores")

    val gatedP = new CurationPipeline(spark, s"$base/idxL", s"$base/outL",
      lmRef = Some(ref), lmScoreFloor = floor)
    gatedP.processBatch(batch, 0L)
    val kept = spark.read.parquet(s"$base/outL/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    // without the reference model, both docs pass — the drop above is
    // the LM stage's doing, not a hard rule's
    val openP = new CurationPipeline(spark, s"$base/idxN", s"$base/outN")
    openP.processBatch(batch, 0L)
    val keptOpen = spark.read.parquet(s"$base/outN/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptOpen == Set(1L, 2L))
  }

  test("curation loop: multi-failure docs attribute to their FIRST failing stage") {
    // The r13 stage fusion evaluates every per-doc screen against the
    // full batch and derives metrics as one first-failing-stage
    // aggregate. The per-stage tests above each exercise ONE failure;
    // this one makes docs fail SEVERAL stages at once and pins the
    // priority order (index > self-dup > contaminated > quality) the
    // sequential r12 gauntlet produced by construction.
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate-prio").toString
    val corpusX =
      "the tall ships sail across a wide ocean and traders carry spice to distant ports in the warm season of calm winds " +
      "while gulls circle high above the masts and the crew watches the far horizon for the first thin line of land"
    val corpusY =
      "a quiet village rests in the valley and farmers tend to green fields of wheat under a bright morning sun with care"
    // 13 rare non-stopword tokens: a doc of EXACTLY these fails the
    // stopword quality rule AND shares a benchmark 13-gram
    val rareGram =
      "zephyr quartz fjord sphinx glyph crypt lynx nymph vortex plasma quasar nebula photon"
    val docD =
      "the old lighthouse stands on a rocky shore and its beam turns slowly through the fog to guide sailors home at night"
    // E = D plus the benchmark gram appended: self-dup of D (jaccard
    // ~0.68 >= 0.6) AND contaminated -> must attribute to self-dup
    val docE = docD + " " + rareGram
    // A = corpus doc X with one word changed plus the gram appended:
    // still jaccard ~0.65 vs X (X is long enough that 13 appended
    // tokens do not dilute below the 0.6 probe threshold), so it is an
    // index near-dup AND contaminated -> must attribute to index
    val docA = corpusX.replace("spice", "silk") + " " + rareGram
    val docF =
      "soft snow falls on the mountain trail and a lone fox leaves small tracks in the white drifts of the silent forest"
    val pipeline = new CurationPipeline(spark, s"$base/idx", s"$base/out",
      benchmark = Some(Seq((900L, rareGram)).toDF("doc_id", "text")))
    pipeline.processBatch(Seq((1L, corpusX), (2L, corpusY)).toDF("doc_id", "text"), 0L)
    pipeline.processBatch(Seq(
      (10L, docA), (11L, rareGram), (12L, docD), (13L, docE), (14L, docF))
      .toDF("doc_id", "text"), 1L)
    val m = spark.read.parquet(s"$base/out/metrics/epoch=1")
      .select("n_in", "drop_index_dup", "drop_contained", "drop_self_dup",
        "drop_contaminated", "drop_quality", "drop_lm", "n_kept")
      .collect()(0)
    // A -> index dup (not contaminated, though it carries the gram);
    // E -> self dup of D (not contaminated, though it carries the gram);
    // 11 (the bare gram) -> contaminated (not quality, though it has
    // zero stopwords); D, F -> kept
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
        m.getLong(4), m.getLong(5), m.getLong(6), m.getLong(7)) ==
      ((5L, 1L, 0L, 1L, 1L, 0L, 0L, 2L)), s"attribution row: $m")
    val kept = spark.read.parquet(s"$base/out/kept/epoch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 14L))
  }

  test("curation loop: containment screen probes post-index survivors, not the full batch") {
    // Regression guard for the r13 fusion: the containment screen's df
    // cap counts BATCH-side shingle frequency (dfb), so probing the
    // full batch would let a flock of index-duplicate docs sharing a
    // quoted phrase push that phrase's shingles over maxDf and hide a
    // real containment hit among the fresh docs. The fused loop must
    // probe exactly the post-index survivor set, like the sequential
    // r12 gauntlet did.
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate-dfcap").toString
    val phrase = "the ancient map shows a hidden path to the lost temple of gold"
    val docZ = phrase +
      " and travelers speak of it in the old taverns where sailors trade stories about the distant northern coast"
    val docW = phrase +
      " but scholars in the city argue that a forgery of this kind is common among the market relic sellers"
    val pipeline = new CurationPipeline(spark, s"$base/idx", s"$base/out",
      containment = Some(0.8), containMaxDf = 3)
    pipeline.processBatch(Seq((1L, docZ), (2L, docW)).toDF("doc_id", "text"), 0L)
    // C quotes the phrase verbatim (containment 1.0 vs Z and W, jaccard
    // far below the 0.6 probe threshold); W1-W3 are index near-dups of
    // W that ALSO carry the phrase — with full-batch probing their
    // copies lift the phrase shingles' dfb to 4 (+ dfi 2 > maxDf 3) and
    // C sails through as curated
    val wCopies = Seq("argue", "common", "sellers").zipWithIndex.map {
      case (w, i) => (20L + i, docW.replace(w, w + "x"))
    }
    pipeline.processBatch(
      (wCopies :+ ((10L, phrase))).toDF("doc_id", "text"), 1L)
    val m = spark.read.parquet(s"$base/out/metrics/epoch=1")
      .select("n_in", "drop_index_dup", "drop_contained", "n_kept")
      .collect()(0)
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3)) ==
      ((4L, 3L, 1L, 0L)), s"df-cap attribution row: $m")
  }

  test("curation loop: epoch replay after a completed fold re-derives identical decisions") {
    // Crash model: foldIn's appends all landed but the epoch marker did
    // not -- foreachBatch replays the epoch against an index that now
    // CONTAINS the epoch's own kept docs. The probes' self-exclusion
    // (corpus rows carrying batch doc_ids are invisible) must make the
    // replay re-derive the exact original verdicts, not index-drop
    // every kept doc against its own folded copy.
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate-replay").toString
    val d1 = "the river flows gently through a green valley where tall trees stand in quiet morning light"
    val d2 = "bright stars fill the night sky and a cool wind moves softly over sleeping hills far away"
    val d3 = d2.replace("cool", "cold") // near-dup pair within the batch
    val pipeline = new CurationPipeline(spark, s"$base/idx", s"$base/out")
    val batch = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    pipeline.processBatch(batch, 0L)
    def metricsRow() = spark.read.parquet(s"$base/out/metrics/epoch=0")
      .collect()(0).toSeq
    def keptIds() = spark.read.parquet(s"$base/out/kept/epoch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val m1 = metricsRow(); val k1 = keptIds()
    assert(k1 == Set(1L, 2L)) // 3 dropped as self-dup of 2
    // simulate the crash: fold completed, marker lost
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/idx/_folded_epoch_0"), false))
    pipeline.processBatch(batch, 0L) // the replay
    assert(metricsRow() == m1, "replayed metrics diverged")
    assert(keptIds() == k1, "replayed kept set diverged")
    // and the duplicated fold does not double-report a later probe hit
    pipeline.processBatch(
      Seq((9L, d1.replace("tall", "old"))).toDF("doc_id", "text"), 1L)
    val m2 = spark.read.parquet(s"$base/out/metrics/epoch=1").collect()(0)
    assert(m2.getAs[Long]("drop_index_dup") == 1L && m2.getAs[Long]("n_kept") == 0L)
  }

  test("curation loop: a torn first-epoch build reads as no-index and is rebuilt") {
    // Crash model: the first-epoch DedupIndex.build wrote buckets/ but
    // crashed before sets/ landed. indexExists must read the torn state
    // as "no index" (else the replay probes a missing sets/ path and
    // crash-loops forever); the replay then rebuilds via build's
    // overwrite mode.
    import graft.streaming.CurationPipeline
    import spark.implicits._
    val base = tempDir("graft-curate-torn").toString
    val d1 = "the river flows gently through a green valley where tall trees stand in quiet morning light"
    val pipeline = new CurationPipeline(spark, s"$base/idx", s"$base/out")
    val batch = Seq((1L, d1)).toDF("doc_id", "text")
    pipeline.processBatch(batch, 0L)
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // tear the index: sets incomplete, marker lost
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/idx/sets/_SUCCESS"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/idx/_folded_epoch_0"), false))
    pipeline.processBatch(batch, 0L) // must rebuild, not crash-loop
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/idx/sets/_SUCCESS")))
    assert(spark.read.parquet(s"$base/out/kept/epoch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
  }
}
