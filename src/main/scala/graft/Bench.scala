package graft

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR (sf0.1 in the driver's run) and prints ONE JSON
  * line. A small untimed warmup first so the first query doesn't absorb
  * codegen/IO initialization.
  *
  * BOTH attribution modes are measured in one run (round-11 change —
  * previously a mode had to be chosen via env var, and a warm-only
  * artifact let memoized rows (dedup_clusters 0.02 s) be misread as
  * per-query costs):
  *   - warm: the session-scoped Caches persist across queries —
  *     cross-query plan reuse is deliberate engine design
  *     (dedup_clusters builds the ngram pair set, dedup_ngram reads it),
  *     so the warm TOTAL is the honest cost of running the whole suite;
  *   - cold: Caches.release(spark) before EVERY timed pass, so each
  *     per-query number is independent of run order — the right number
  *     when single-query attribution matters more than suite cost.
  * The JSON carries `queries` (warm, the driver's headline) plus
  * `queries_cold`/`total_cold`. SPARK_GRAFT_BENCH_MODE=warm|cold still
  * restricts to a single mode. The full line is also written to
  * SPARK_GRAFT_BENCH_OUT (default BENCH_FULL.json in the cwd) because
  * the driver's captured artifact has twice truncated to a 2000-char
  * tail, losing per-query rows.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "both")
    val cpus = GraftSession.cores
    val spark = GraftSession(cpus)

    // warmup: touch the fact table once so the first timed query doesn't
    // absorb IO/codegen initialization
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // untimed canary warmup: added to test whether the persistent
    // 2× "inflated start" on warm_before (0.42→0.20 within the same
    // run, every r18/r19 window) was the canary plan's own codegen +
    // heap warmup rather than host steal. MEASURED ANSWER: no — with
    // this probe immediately preceding it, warm_before still reads
    // ~0.43 while warm_after/cold sit at the 0.19 clean floor, so the
    // start-of-run inflation is host-side. Kept so the artifact's
    // before-mark can never again be attributed to JVM warmup.
    locally {
      import org.apache.spark.sql.functions.{col, expr, xxhash64}
      spark.range(0L, 1000000000L, 1L, cpus)
        .select(xxhash64(col("id")).as("h"))
        .agg(expr("bit_xor(h)")).queryExecution.toRdd.count()
      spark.sparkContext.parallelize(0 until cpus, cpus)
        .map(_ + 1).count()
    }

    // STEAL CANARY: a pinned fixed-plan probe (1G xxhash64 rows over all
    // cores, no IO, no caches) timed before and after each suite pass.
    // This host has episodic CPU steal invisible in /proc/stat that
    // swings identical plans 3-6×; the canary makes window adjudication
    // mechanical — BASELINE.md records the clean-window reference value,
    // and a pass whose canary reads k× the reference is deflated by k
    // before cross-window comparison. Median of 3 (jitter-robust, steal
    // stays visible — a steal episode inflates all three).
    def canary(): Double = {
      import org.apache.spark.sql.functions.{col, expr, xxhash64}
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // bit_xor, not sum: 1G hash values overflow a Long under ANSI
        spark.range(0L, 1000000000L, 1L, cpus)
          .select(xxhash64(col("id")).as("h"))
          .agg(expr("bit_xor(h)")).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(1)
    }
    // SECOND canary flavor: per-JOB scheduler floor (seconds/job over 20
    // trivial all-core jobs). The steal mode this host actually exhibits
    // penalizes MANY-SMALL-JOBS shapes while leaving one big CPU-bound
    // job untouched (r14's streaming/curation rows swung 2-5× in windows
    // where warm suite totals held) — a raw-compute canary is blind to
    // it, so the artifact carries both.
    def canaryJobs(): Double = {
      val t0 = System.nanoTime()
      (1 to 20).foreach { _ =>
        spark.sparkContext.parallelize(0 until cpus, cpus)
          .map(_ + 1).count()
      }
      (System.nanoTime() - t0) / 1e9 / 20.0
    }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the suite — the
    // single-query cold-attribution loop (Bench is the only harness
    // that times eager builder work; RunQuery times plan execution).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on a typo: a silently-empty suite would write a bogus
    // zero-total artifact that poisons cross-window comparison
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }

    // min-of-2 passes per query: this host has episodic CPU steal that
    // swings identical plans 3-6x, so a single pass is noise; the min of
    // two is the honest per-query number. Failures are recorded as
    // errors, never as a fast fake success.
    //
    // Timing materializes the FULL output via queryExecution.toRdd (every
    // output column computed by the executed plan), not df.count():
    // counting lets ColumnPruning drop computed projections, which
    // under-measures projection-heavy queries.
    // Per query: (total_sec, builder_sec). builder_sec is the time to
    // CONSTRUCT the DataFrame — where shared memo builders, driver-side
    // model fits, and run-to-completion streams do their eager work —
    // so the cold artifact can attribute "7× the oracle" rows honestly:
    // patid1 cold charges the finestAgg/lowWeight memo build to itself,
    // while its plan execution is ≈ oracle parity (same split RunQuery
    // uses: its timer starts after the builder returns).
    def runSuite(cold: Boolean): (Seq[(String, (Double, Double))], Seq[(String, String)]) = {
      if (cold) Caches.release(spark)
      val results = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        def once(): Either[String, (Double, Double)] = {
          if (cold) Caches.release(spark)
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val builderSec = (System.nanoTime() - t0) / 1e9
            df.queryExecution.toRdd.count()
            Right(((System.nanoTime() - t0) / 1e9, builderSec))
          }
          catch { case e: Throwable => Left(e.getClass.getSimpleName) }
        }
        name -> (once() match {
          case Left(err) => Left(err)
          case Right(a) => once() match {
            case Right(b) => Right(if (b._1 < a._1) b else a) // min by total
            case Left(_)  => Right(a) // flaky second pass: keep the success
          }
        })
      }
      (results.collect { case (k, Right(v)) => k -> v },
        results.collect { case (k, Left(e)) => k -> e })
    }

    def fmt(rows: Seq[(String, Double)]): String =
      rows.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
        .mkString("{", ",", "}")

    var canaries = Vector.empty[(String, Double)]
    def mark(tag: String): Unit = {
      canaries :+= (tag -> canary())
      canaries :+= (s"${tag}_jobfloor" -> canaryJobs())
    }

    if (mode != "cold") mark("warm_before")
    val (warmOk, warmErr) =
      if (mode != "cold") runSuite(cold = false) else (Nil, Nil)
    if (mode != "cold") mark("warm_after")
    // SELF-ADJUDICATING RETEST (r21): every round's windows start
    // steal-inflated (warm_before jobfloor 3-19x the clean 0.011 floor,
    // recovering mid-run — three rounds of BASELINE floor-watch rows
    // accrued from exactly this), so the rows timed EARLY in the warm
    // pass carry inflation their own artifact cannot refute. Re-run the
    // N worst warm rows once more at the END of the warm pass — after
    // the canary shows the floor recovered — and record them under
    // `queries_warm_retest` (an ADDED block; `queries` keeps the
    // in-suite numbers untouched). A watch row is adjudicated from its
    // own run: retest ≈ oracle ⇒ floor-class inflation, retest still
    // high ⇒ a real regression.
    val warmRetest: Seq[(String, Double)] =
      if (mode == "cold" || warmOk.isEmpty) Nil
      else warmOk.sortBy(-_._2._1).take(12).map { case (name, _) =>
        // min-of-2, same discipline as the suite loop: a single retest
        // pass is itself one steal episode away from re-inflating the
        // row it exists to adjudicate (seen in the first r21 window:
        // single-shot retest read decontam_fp 60% over its in-suite min)
        def once(): Double = {
          val t0 = System.nanoTime()
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            df.queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => -1.0 } // -1 = retest failed
        }
        val a = once()
        val b = once()
        name -> (if (a < 0 || b < 0) math.max(a, b) else math.min(a, b))
      }
    // dual mode: warm_after and cold_before bracket the same instant —
    // reuse the measurement instead of paying a second ~10 s probe pair
    if (mode == "both")
      canaries ++= canaries.takeRight(2).map { case (k, v) =>
        k.replace("warm_after", "cold_before") -> v
      }
    else if (mode == "cold") mark("cold_before")
    val (coldOk, coldErr) =
      if (mode != "warm") runSuite(cold = true) else (Nil, Nil)
    if (mode != "warm") mark("cold_after")

    val headline = (if (mode == "cold") coldOk else warmOk)
      .map { case (k, (t, _)) => k -> t }
    // namespace the cold-pass failures: the same query can fail with
    // DIFFERENT exceptions warm vs cold, and duplicate JSON keys would
    // silently drop one of them in most parsers
    val warmKeyed = warmErr.map { case (k, e) => (k, e) }
    // suffix until unique against ALL emitted keys (warm plus cold so
    // far) — a real query literally named "<k>_cold" must not collide
    val usedKeys = scala.collection.mutable.Set[String](warmKeyed.map(_._1): _*)
    val coldKeyed = coldErr.map { case (k, e) =>
      var kk = if (usedKeys.contains(k)) s"${k}_cold" else k
      while (usedKeys.contains(kk)) kk += "_"
      usedKeys += kk
      (kk, e)
    }
    val errs = (warmKeyed ++ coldKeyed).distinct
    val es = errs.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = headline.map(_._2).sum
    val retestPart =
      if (warmRetest.isEmpty) ""
      else s""","queries_warm_retest":${fmt(warmRetest)}"""
    val coldPart =
      if (mode == "warm" || coldOk.isEmpty) ""
      else {
        val totals = coldOk.map { case (k, (t, _)) => k -> t }
        val builders = coldOk.map { case (k, (_, b)) => k -> b }
        f""","total_cold":${totals.map(_._2).sum}%.3f,"queries_cold":${fmt(totals)}""" +
          s""","queries_cold_builder":${fmt(builders)}"""
      }
    // canary fields: raw seconds per mark plus the within-run spread —
    // ratio > ~1.5 means the window SHIFTED mid-run; cross-window
    // comparison divides suite times by (canary / BASELINE's reference)
    val canaryJson = {
      val fields = canaries.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      def spread(vs: Seq[Double]): Option[Double] =
        if (vs.size < 2) None else Some(vs.max / vs.min)
      val (floors, computes) = canaries.partition(_._1.endsWith("_jobfloor"))
      val ratios =
        spread(computes.map(_._2)).map(r => f""","ratio":$r%.3f""").getOrElse("") +
        spread(floors.map(_._2)).map(r => f""","jobfloor_ratio":$r%.3f""").getOrElse("")
      fields.mkString("{", ",", "") + ratios + "}"
    }
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${fmt(headline)}$retestPart$coldPart,"errors":$es,"canary":$canaryJson,"passes":2,"mode":"$mode","sf":"$sfDir"}"""
    // contract self-check (r22): the driver parses this line, and r20's
    // line silently defeated its parser (BENCH_r20 `parsed: null` at
    // rc 0), costing that round its per-query prev comparison. Re-parse
    // with Jackson (on the classpath via Spark) and fail the run loudly
    // if the line is not one valid JSON object carrying the keys the
    // driver reads — a malformed artifact must be THIS run's error, not
    // the next round's missing baseline.
    locally {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      require(node.isObject && node.has("metric") && node.has("value")
          && node.has("queries") && node.get("queries").isObject
          && node.get("value").isNumber,
        "bench JSON self-check failed: emitted line breaks the driver contract")
    }
    println(line)
    try {
      // a name-filtered run defaults to a SEPARATE file: the committed
      // suite artifact must never be shadowed by a targeted probe (the
      // r18 failure mode — a 2-query run overwrote the round's
      // adjudicated 133-query artifact at HEAD)
      val defaultOut =
        if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // best-effort mirror of stdout
    Caches.release()
    spark.stop()
  }
}
