package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Engine-wide physical-plan guardrails: every registered query's plan
  * is screened for the shapes that do not survive scale, so a plan
  * regression (a lost equi-join key turning into a cartesian, a window
  * losing its partitioning) fails CI instead of surfacing as a 100×
  * slowdown on a cluster. Deliberate exceptions are pinned per query
  * with the reason — the list can only shrink or be consciously grown.
  */
class PlanGuardrailSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * a tiny broadcast side crossed/non-equi-joined by design. */
  private val bnljAllowed = Set(
    "similarity_topk",     // nQueries rows broadcast, joined vec_id =!= query_id
    "similarity_topk_ivf", // nQueries × nCells centroid ranking cross, both tiny
    "similarity_topk_ivf_serving", // same centroid-ranking cross under the serving rules
    "similarity_topk_ivf_idx", // same cross, reading the persisted assignment
    "similarity_topk_sq8", // quantized queries broadcast, joined vec_id =!= query_id
    "similarity_topk_pq",  // per-query ADC lookup tables broadcast, joined vec_id =!= query_id
    "similarity_topk_pq_idx", // same ADC scan, reading the persisted codes table
    "similarity_topk_ivfpq",  // per-query (qcent + residual-LUT + probe-set) broadcast, joined vec_id =!= query_id
    "similarity_topk_ivfpq_scaled", // same scan at corpus-scaled cells
    "similarity_topk_ivfpq_serving", // same scan; probe-all on this corpus by the promotion rule
    "similarity_topk_ivfpq_idx", // same ADC scan reading the persisted codes
    "bm25_topk",           // 1-row corpus-stats aggregate broadcast over the scan
    "hybrid_topk",         // bm25's 1-row stats + the 1-row query-vector broadcast
    "lm_score",            // 1-row vocabulary-size aggregate broadcast over the scoring join
    // (epoch_shuffle left the list in r17, token_budget_mix and
    // dsir_select in r19, corpus_shards in r21: their 1-row/rate-table/
    // stratum-offset broadcasts moved into driver-collected memoized
    // artifacts — the registered plans are now a single aggregate pass
    // and a zero-shuffle scoring scan)
    "source_drift",        // |sources|×topN grid completion + 1-row ΣtopN broadcast
    "streaming_drift",     // same grid completion over the converged stream state
    "pmi_topk")            // two 1-row corpus-total broadcasts over the candidate frame

  /** Queries with a deliberate single-partition exchange feeding a
    * window: the window input is an aggregate of bounded size. */
  private val singlePartitionWindowAllowed = Set(
    "resample_temperature", // window over the |strata|-row rate frame
    "hybrid_topk")          // rank windows run AFTER TakeOrdered(nLeg) — ≤ 50 rows each
    // (corpus_shards left the list in r21: the 1-row total-tokens scalar
    // aggregate + stratum window moved into a driver-folded literal
    // offset map, so the plan no longer co-locates Window+SinglePartition)

  test("scan-predicate queries push their filters into the parquet scan") {
    // the brief's explicit bar: a filter that belongs at the source must
    // show in the scan's PushedFilters, not run post-scan only. One
    // representative per filter family; a regression here means a 100 TB
    // scan reads (and deserializes) rows the query never wanted.
    // formatted mode, not plan.toString: the one-line scan rendering
    // truncates its metadata at spark.sql.maxMetadataStringLength, and
    // the PushedFilters field routinely falls past the cut
    val expectPush = Seq(
      "filters_proj",   // numeric + conjunctive lineitem predicates
      "asof_join",      // event_type = 'purchase'/'view' literal filters
      "semi_join",      // key-side filters on both legs
      "q1_pricing")     // date-bound scan predicate
    for (name <- expectPush) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1).trim).toSeq
      assert(pushed.nonEmpty, s"$name: no file scan in plan?")
      assert(pushed.exists(_.nonEmpty),
        s"$name: every scan has empty PushedFilters — predicate not pushed")
    }
  }

  test("narrow projections prune the scan to the columns they read") {
    // column pruning is the other half of scan hygiene: a 7-column
    // projection over a 16-column lineitem must not read the full row
    val scans = SparkEntry.queries("filters_proj")(spark, sf)
      .queryExecution.executedPlan.collectLeaves()
    val widths = scans.map(_.output.length)
    assert(widths.nonEmpty && widths.forall(_ <= 7),
      s"filters_proj reads ${widths.mkString(",")} columns at the scan — pruning lost")
  }

  test("hot scan queries stay inside whole-stage codegen") {
    for (name <- Seq("text_stats", "quality_filter", "token_count",
        "filters_proj")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("codegen id :"),
        s"$name plans no whole-stage-codegen span — hot path fell out of codegen")
    }
  }

  test("no registered query plans a cartesian product") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product — an all-pairs shuffle at scale")
    }
  }

  test("nested-loop joins only where a tiny broadcast side is by design") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val has = plan.contains("BroadcastNestedLoopJoin")
      assert(!has || bnljAllowed(name),
        s"$name plans an unexpected BroadcastNestedLoopJoin")
      if (bnljAllowed(name))
        assert(has, s"stale allowlist entry: $name no longer plans a BNLJ")
    }
  }

  test("every registered query analyzes against every generated SF dir") {
    // testdata-drift guard: the driver regenerates /root/testdata between
    // rounds and has changed table schemas doing so (events.ts went
    // TIMESTAMP(NANOS) → timestamp[us] in round 9, silently breaking 15
    // queries). Analyzing — not executing — every query against every SF
    // catches a layout change in `sbt test` before the driver's gate does.
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)
    assert(dirs.nonEmpty)
    for (dir <- dirs; (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try fn(spark, dir).queryExecution.analyzed
      catch { case e: Exception =>
        fail(s"$name fails analysis at $dir: " +
          e.toString.linesIterator.take(2).mkString(" "))
      }
    }
  }

  test("the index probe's partition scans carry dynamic-pruning filters") {
    // r15 replaced the probe's two driver prefix-collects (isin-literal
    // partition pruning) with broadcast semi-joins on the partition
    // columns, claiming dynamic partition pruning does the same slice-
    // skipping with zero driver round-trips. That claim is a PLAN
    // property — if DPP ever stops firing (a conf default flip, a join
    // reordering), the probe silently full-scans the corpus-sized
    // buckets/ and sets/ components at 100 TB. Pin it: both scans must
    // carry a dynamicpruning expression in their PartitionFilters.
    val base = tempDir("graft-dpp").toString
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    graft.llm.DedupIndex.build(
      docs.filter(col("doc_id") % 10 =!= 0), s"$base/idx")
    val staged = scala.collection.mutable.ArrayBuffer.empty
      [org.apache.spark.sql.DataFrame]
    val probe = graft.llm.DedupIndex.probeStaged(spark, s"$base/idx",
      docs.filter(col("doc_id") % 100 === 0), 0.6) { df =>
      staged += df.persist(); df
    }
    try {
      val plan = probe.queryExecution.executedPlan.toString
      val pruned = plan.linesIterator
        .filter(_.contains("PartitionFilters"))
        .count(_.contains("dynamicpruning"))
      assert(pruned >= 2,
        s"expected dynamic-pruning PartitionFilters on BOTH the buckets " +
          s"and sets scans, found $pruned:\n" +
          plan.linesIterator.filter(_.contains("PartitionFilters"))
            .mkString("\n"))
      // and the probe still answers (executes through the DPP subqueries)
      assert(probe.count() >= 0)
    } finally staged.foreach(_.unpersist())
  }

  test("windows keep their partitioning except over bounded aggregates") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val has = plan.contains("Window") && plan.contains("SinglePartition")
      assert(!has || singlePartitionWindowAllowed(name),
        s"$name plans a window over a single partition")
      if (singlePartitionWindowAllowed(name))
        assert(has, s"stale allowlist entry: $name")
    }
  }
}
