package graft.streaming

import graft.llm.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING SOURCE-DRIFT MONITOR — the live form of
  * [[graft.llm.TextOps.sourceDrift]]: per-(source, term) token counts
  * restricted to a FIXED reference vocabulary (the standing corpus's
  * topN terms, a stream-static broadcast join) accumulate as a native
  * complete-mode streaming aggregate — exact mergeable longs, the
  * same order-free-state argument as
  * [[StreamingMoments]] — and the PSI fold runs over the converged
  * (|sources|·topN)-row state. This is the monitor an ingest pipeline
  * actually deploys: the reference distribution is pinned, arriving
  * batches update counts, and a source whose PSI curve climbs is
  * drifting away from the corpus it is supposed to extend.
  *
  * Scale: state is one long per (source, reference-term) —
  * vocabulary-bounded at topN·|sources| regardless of stream length;
  * the restriction happens BEFORE the stateful operator (broadcast
  * semi-join against the topN-row reference), so untracked terms never
  * enter state. Run to completion over the same corpus, the counts
  * equal the batch counts, so the registered query shares
  * `source_drift`'s DuckDB oracle verbatim; StreamingDriftSpec pins
  * stream == batch across micro-batch splits.
  */
object StreamingDrift {

  /** Per-source PSI of a STREAMING (source, text) frame against the
    * reference `top` terms, run to completion. `sources` is the static
    * source list to complete the grid over. */
  def driftOfStream(stream: DataFrame, top: DataFrame, sources: DataFrame,
      topN: Int = 100, alpha: Double = 0.5): DataFrame = {
    val spark = stream.sparkSession
    // r21: (1) fan the single-file micro-batch out BEFORE the tokenize
    // (the streamingNearDupQuery rationale — the scan arrives as one
    // partition and the per-row tokenize+explode would run
    // single-threaded; a real multi-file ingest arrives parallel and a
    // production deployment drops this); (2) state width sized to the
    // state — the complete-mode count state is ≤ |sources|·topN rows
    // (2,000 here), and every one of the session's 32 shuffle
    // partitions hosts a state store paying the per-commit floor, so
    // the count-state shuffle is scoped to the data-sized width
    // (measured with the wm query: width 8→2 cut the per-batch commit
    // floor ~26%); counts are exact longs, so the result is
    // partitioning-invariant (same oracle row set). The converged state
    // (≤ topN·|sources| rows) comes back as a local frame.
    val local = BoundedRun.collect(spark, "sdrift_", "complete",
        Seq("spark.sql.shuffle.partitions" -> "2")) {
      stream
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
        .join(broadcast(top.select(col("term"))), Seq("term")) // stream-static
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("cs"))
    }
    TextOps.psiOverTop(local, top, sources, topN, alpha)
  }

  /** The registered bounded query: stream the documents table against
    * the batch-derived reference distribution — counts converge to the
    * batch counts, so the result equals `source_drift` (same oracle). */
  def driftQuery(spark: SparkSession, dir: String, topN: Int = 100,
      alpha: Double = 0.5): DataFrame =
    graft.Caches.memo(spark, s"streaming_drift:$dir:$topN:$alpha") {
      val top = TextOps.topTerms(spark, dir, topN)
      val sources = TextOps.sourcesDistinct(spark, dir)
      val schema = graft.Tables.documents(spark, dir).schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("source"), col("text"))
      driftOfStream(stream, top, sources, topN, alpha)
    }
}
