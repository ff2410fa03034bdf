package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED incremental near-dedup index — the production shape of
  * [[Dedup.dedupIncremental]]'s session-cached index: a parquet-backed
  * MinHash-LSH bucket table plus the per-doc shingle sets, living across
  * sessions and growing by `foldIn` as verified batches are absorbed.
  * Continuous-ingestion loop:
  *
  *   1. [[build]] once over the initial corpus;
  *   2. per arriving batch: [[probe]] → (new, corpus) near-dup pairs →
  *      caller drops/clusters the dups;
  *   3. [[foldIn]] the kept batch docs — an APPEND of their bucket and
  *      set rows, never a rebuild.
  *
  * Layout under `path`:
  *   - `buckets/` (doc_id, band_id, band_hash), partitioned by
  *     `pfx = pmod(band_hash, 64)`;
  *   - `sets/` (doc_id, shset) for exact candidate verification,
  *     partitioned by `dpfx = pmod(xxhash64(doc_id), 64)` so the
  *     verify join reads only the slices the candidates live in;
  *   - `postings/` (shingle, doc_id), partitioned by
  *     `pfx = pmod(xxhash64(shingle), 64)`, serving
  *     [[containmentProbe]] — the asymmetric quoted-inside screen the
  *     banded probe is blind to;
  *   - `_meta` — the banding geometry the index was built with
  *     ([[probe]]/[[foldIn]] refuse mismatched parameters: a probe
  *     under different banding would silently return near-zero
  *     collisions, which reads as "no duplicates", not as an error).
  *
  * doc_id is the GLOBAL document key: both probes exclude corpus rows
  * carrying a doc_id present in the probed batch — such rows can only
  * be the batch's own previously-folded copies (a replayed epoch after
  * a crash landed between foldIn and the caller's epoch marker), and
  * counting them would flip the replay's decisions (every kept doc
  * would self-match at jaccard 1.0). With that exclusion plus
  * duplicate-tolerant reads (candidate distinct, posting-slice
  * distinct, pair-level distinct), an epoch replay re-derives exactly
  * its original verdicts and a double-fold only costs storage until
  * compaction.
  *
  * 100 TB scale: a probe computes the batch's buckets, collects their
  * distinct `pfx` values (≤ 64 ints — a bounded driver set, not data),
  * and reads ONLY those index partitions — the scan is pruned to the
  * hash-prefix slices the batch can possibly hit. The batch bucket set
  * is broadcast into the pruned scan (no index-side shuffle), and only
  * verified candidates ever touch the `sets` table, via a key join.
  * Per-batch cost: O(hit-fraction of index + candidates) — the corpus
  * is never self-joined and never re-signed. foldIn appends exactly the
  * batch's rows: O(batch).
  */
object DedupIndex {

  private val nPfx = 64

  private def withPfx(buckets: DataFrame): DataFrame =
    buckets.withColumn("pfx", pmod(col("band_hash"), lit(nPfx)))

  /** Shingle-keyed partition prefix for the `postings/` component —
    * same ≤64-slice pruning idea as the bucket table, keyed on the
    * shingle hash so a containment probe reads only the slices the
    * batch's own shingles can live in. */
  private def withSpfx(postings: DataFrame): DataFrame =
    postings.withColumn("pfx", pmod(xxhash64(col("shingle")), lit(nPfx)))

  private def postingsOf(sets: DataFrame): DataFrame =
    withSpfx(sets.select(col("doc_id"), explode(col("shset")).as("shingle")))

  /** doc_id-keyed partition prefix for the `sets/` component. */
  private def withDpfx(sets: DataFrame): DataFrame =
    sets.withColumn("dpfx", pmod(xxhash64(col("doc_id")), lit(nPfx)))

  /** On-disk layout version. 2 = hash-prefix-partitioned components
    * (buckets/sets/postings each carry a pfx/dpfx partition column the
    * readers prune on). Layout-1 indexes (flat sets/, no _meta) cannot
    * be read by this code — [[probe]] filters on a column they lack —
    * so [[checkLayout]] refuses them with a rebuild message instead of
    * letting the missing-column error (or a mixed flat+partitioned
    * sets/ dir after a foldIn) surface downstream. */
  private val layoutVersion = 2

  private def metaPath(path: String) = new org.apache.hadoop.fs.Path(s"$path/_meta")

  private def writeMeta(spark: SparkSession, path: String,
      bands: Int, rows: Int): Unit = {
    val mp = metaPath(path)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    out.write(s"layout=$layoutVersion bands=$bands rows=$rows".getBytes("UTF-8"))
    out.close()
  }

  /** Refuse an index this reader cannot serve: no `_meta` means a
    * layout-1 index (flat, unpartitioned components — `_meta` and the
    * partitioned layout shipped in the same change, so the marker
    * exactly discriminates them), and a `layout=` token other than
    * [[layoutVersion]] means a future format. Either way the only safe
    * action is a rebuild — probing would throw on the missing `dpfx`
    * column, and folding in would leave a mixed flat+partitioned
    * `sets/` dir that poisons every later read. Returns the meta text
    * for parameter checks. */
  private def checkLayout(spark: SparkSession, path: String): String = {
    val mp = metaPath(path)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) throw new IllegalStateException(
      s"DedupIndex at $path has no _meta: it predates the partitioned " +
        s"layout (layout=$layoutVersion) this reader prunes on. Rebuild " +
        "it with DedupIndex.build over the corpus (probing a flat index " +
        "would fail on the missing dpfx partition column; folding into " +
        "it would mix flat and partitioned files under sets/).")
    val in = fs.open(mp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // pre-versioning layout-2 indexes wrote "bands=.. rows=.." with no
    // layout token (the partitioned layout and _meta shipped together)
    val v = "layout=(\\d+)".r.findFirstMatchIn(text)
      .map(_.group(1).toInt).getOrElse(layoutVersion)
    if (v != layoutVersion) throw new IllegalStateException(
      s"DedupIndex at $path has on-disk layout $v but this reader " +
        s"serves layout $layoutVersion. Rebuild it with DedupIndex.build.")
    text
  }

  /** Refuse banding parameters that differ from the ones the index was
    * built with — a probe under different banding would silently return
    * near-zero collisions, which reads as "no duplicates", not as an
    * error. Also refuses unreadable layouts via [[checkLayout]]. */
  private def checkMeta(spark: SparkSession, path: String,
      bands: Int, rows: Int): Unit = {
    val text = checkLayout(spark, path)
    val want = s"bands=$bands rows=$rows"
    require(text.endsWith(want),
      s"DedupIndex at $path was built with [$text] but probed/folded " +
        s"with [$want] -- mismatched banding returns near-zero " +
        "collisions (silent recall loss), not an error; pass the " +
        "build-time parameters")
  }

  private def bucketsOf(sets: DataFrame, bands: Int, rows: Int): DataFrame =
    Dedup.bandedBuckets(Dedup.minhashSignatures(
      sets.select(col("doc_id"), explode(col("shset")).as("shingle"))), bands, rows)

  /** Create (overwrite) the index from an initial (doc_id, text) corpus. */
  def build(docs: DataFrame, path: String, bands: Int = 16, rows: Int = 4): Unit = {
    val sets = Dedup.shingleSets(docs).persist()
    try {
      // repartition on the partition column first: without it every
      // write task sprays a file into each of the ≤64 pfx dirs (tasks ×
      // 64 small files per epoch — measured 2.6× the fold cost and a
      // linearly growing probe tax); with it each epoch adds exactly
      // one file per touched pfx.
      // The three component writes go to DISJOINT paths off the same
      // cached frame, so they run as CONCURRENT jobs — the [[foldIn]]
      // discipline applied to the initial build (r22): wall-clock is the
      // slowest write's latency instead of the three summed, and the
      // tail of one write's shuffle back-fills the others' map stages
      // (guide §2.6). BlockManager serializes the first compute of each
      // cached `sets` partition, so the shingle pass still runs once.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writes = Seq(
        Future(withPfx(bucketsOf(sets, bands, rows))
          .repartition(col("pfx"))
          .write.mode("overwrite").partitionBy("pfx").parquet(s"$path/buckets")),
        Future(withDpfx(sets)
          .repartition(col("dpfx"))
          .write.mode("overwrite").partitionBy("dpfx").parquet(s"$path/sets")),
        Future(postingsOf(sets)
          .repartition(col("pfx"))
          .write.mode("overwrite").partitionBy("pfx").parquet(s"$path/postings")))
      writes.foreach(Await.result(_, Duration.Inf))
      writeMeta(docs.sparkSession, path, bands, rows)
    } finally sets.unpersist()
  }

  /** Absorb a verified batch: append its bucket + set rows. The caller
    * folds a batch in AFTER acting on [[probe]]'s verdict, so batch docs
    * judged duplicates can be excluded before they enter the index. */
  def foldIn(docs: DataFrame, path: String, bands: Int = 16, rows: Int = 4): Unit = {
    checkMeta(docs.sparkSession, path, bands, rows)
    val sets = Dedup.shingleSets(docs).persist()
    try {
      // same one-file-per-pfx-per-epoch discipline as [[build]]; a
      // batch-sized shuffle, and Compaction.compactPartitioned packs
      // the per-epoch files when they accumulate. The three component
      // writes go to DISJOINT paths off the same cached frame, so they
      // run as CONCURRENT jobs (BlockManager serializes the first
      // compute of each cached partition): per-epoch wall-clock is one
      // write's latency instead of three — at micro-batch granularity
      // the scheduler floor of the extra two jobs was most of foldIn's
      // cost.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writes = Seq(
        Future(withPfx(bucketsOf(sets, bands, rows))
          .repartition(col("pfx"))
          .write.mode("append").partitionBy("pfx").parquet(s"$path/buckets")),
        Future(withDpfx(sets)
          .repartition(col("dpfx"))
          .write.mode("append").partitionBy("dpfx").parquet(s"$path/sets")),
        Future(postingsOf(sets)
          .repartition(col("pfx"))
          .write.mode("append").partitionBy("pfx").parquet(s"$path/postings")))
      writes.foreach(Await.result(_, Duration.Inf))
    } finally sets.unpersist()
  }

  /** (new_id, corpus_id, jaccard) for every batch doc near-duplicating
    * an indexed doc at `threshold` — same banding and exact-verify
    * contract as [[Dedup.dedupIncremental]], against the persisted
    * index. */
  def probe(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4): DataFrame = {
    val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val verified = probeStaged(spark, path, batch, threshold, bands, rows) {
      df => staged += df.persist(); df
    }
    // materialize before unpersisting the inputs the plan references
    val out = verified.localCheckpoint(true)
    staged.foreach(_.unpersist())
    out
  }

  /** [[probe]]'s plan, LAZY: intermediate frames go through the
    * caller's `stage` registrar (persist + deferred unpersist) and the
    * returned verify join is never materialized here — the curation
    * loop computes it inside its single verdict-aggregate job instead
    * of paying probe-private sequential walls (two prefix collects and
    * a localCheckpoint were 3 of the ~5 scheduler-floor walls per
    * micro-batch). Partition pruning keeps its contract without the
    * driver round-trips: the bucket and set scans semi-join their
    * partition column against the batch's (broadcast, ≤ nPfx-row)
    * prefix sets, so dynamic partition pruning skips the same slices
    * the old collected-isin literals did — still never O(corpus) reads
    * for a small probe — while the whole probe stays one plan. */
  def probeStaged(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4)(
      stage: DataFrame => DataFrame): DataFrame = {
    checkMeta(spark, path, bands, rows)
    val batchSets = stage(Dedup.shingleSets(batch))
    val probeBuckets = stage(withPfx(bucketsOf(batchSets, bands, rows)))
    val index = spark.read.parquet(s"$path/buckets")
      .join(broadcast(probeBuckets.select(col("pfx")).distinct()
          // the domain bound is true by construction (pfx = pmod(·, nPfx))
          // and LOAD-BEARING: Spark only plants a dynamic-partition-
          // pruning subquery when the build side carries a Filter it
          // judges selective (PartitionPruning.hasPartitionPruningFilter
          // looks for Filter nodes specifically — an Aggregate alone
          // does not qualify), so without this the semi-join would
          // full-scan the corpus-sized component. PlanGuardrailSpec
          // pins the dynamicpruning PartitionFilters in the plan.
          .filter(col("pfx") >= 0 && col("pfx") < nPfx)),
        Seq("pfx"), "left_semi") // partition-pruned scan (DPP)
    val cand = stage(index.join(
        broadcast(probeBuckets.select(col("doc_id").as("new_id"),
          col("band_id"), col("band_hash"))),
        Seq("band_id", "band_hash"))
      .select(col("new_id"), col("doc_id").as("corpus_id"))
      // replay self-exclusion (header note): a corpus row with a batch
      // doc's id is the batch's own folded copy from a replayed epoch
      .join(broadcast(batchSets.select(col("doc_id").as("corpus_id"))),
        Seq("corpus_id"), "left_anti")
      .distinct())
    // candidate corpus_ids live in at most nPfx doc-hash slices; the
    // semi-join prunes the sets scan the same way -- without it, every
    // probe full-scans the corpus-sized shingle-set table, which at
    // index scale dwarfs the pruned bucket/posting reads
    val corpusSets = spark.read.parquet(s"$path/sets")
      .join(broadcast(cand
          .select(pmod(xxhash64(col("corpus_id")), lit(nPfx)).as("dpfx"))
          .distinct()
          // same load-bearing domain bound as the buckets scan above
          .filter(col("dpfx") >= 0 && col("dpfx") < nPfx)),
        Seq("dpfx"), "left_semi") // partition-pruned scan (DPP)
    Dedup.verifiedJaccardPairs(
        cand, batchSets, corpusSets, "new_id", "corpus_id", threshold)
      // pair-level distinct: a replayed fold duplicates sets/ rows, and
      // the verify join would return each pair once per copy (same
      // jaccard value -- distinct collapses them exactly)
      .distinct()
  }

  /** (new_id, corpus_id, n_new, common, containment) for every batch
    * doc ≥ `threshold` CONTAINED in an indexed doc — the persisted-
    * index form of [[Dedup.containmentProbe]], against the `postings/`
    * component. MinHash banding cannot serve this probe: a short doc
    * quoted inside a long one has LOW Jaccard, so its bands never
    * collide — which is exactly the pair containment exists to catch.
    *
    * Same pruning discipline as [[probe]]: the batch's shingle-hash
    * prefixes (≤ 64 ints) prune the postings scan, the batch shingles
    * broadcast into it, and the df cap (standing df from the pruned
    * slices + the batch's own counts — together the full
    * corpus-so-far df for every probed shingle) bounds each posting
    * list at maxDf rows, so candidates are O(batch · maxDf). The
    * score divides by the NEW doc's capped size only, so no corpus-doc
    * sizes are ever recomputed. */
  def containmentProbe(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.5, maxDf: Int = 64): DataFrame = {
    checkLayout(spark, path) // banding-free probe, but the layout must match
    // persist the SETS before exploding: a Generate whose child is the
    // raw array_sort(array_distinct(...)) expression re-evaluates that
    // child per OUTPUT row (measured 30× — 11 s vs 0.35 s on a 500-doc
    // batch); over a cached frame the generator child is a plain
    // attribute and the explode is linear
    val batchSets = Dedup.shingleSets(batch).persist()
    val batchSh = batchSets
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
      .persist()
    val batchDf = batchSh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("dfb")).persist()
    // bounded by construction: at most nPfx distinct values. r22 A/B
    // note: replacing this collect with the probeStaged-style broadcast
    // semi-join planted NO dynamicpruning filter in this eager plan
    // (and measured slower) — unlike the lazy staged probe, so the
    // static isin prune is the only form that GUARANTEES the postings
    // scan stays pruned at index scale. Kept.
    val pfxs = withSpfx(batchDf).select(col("pfx")).distinct()
      .collect().map(_.getLong(0))
    val idx = spark.read.parquet(s"$path/postings")
      .filter(col("pfx").isin(pfxs.toIndexedSeq: _*)) // partition-pruned scan
      .join(broadcast(batchDf.select(col("shingle"))), Seq("shingle"))
      // replay self-exclusion (header note): posting rows carrying a
      // batch doc's id are the batch's own folded copies and would
      // inflate dfi AND score each doc as contained in itself
      .join(broadcast(batchSets.select(col("doc_id"))), Seq("doc_id"),
        "left_anti")
      // distinct BEFORE counting: a crash between foldIn and its epoch
      // marker replays the epoch's append, and duplicated posting rows
      // would inflate both dfi (hiding real containment behind the df
      // cap) and common (containment > 1.0, spurious threshold
      // crossings). Buckets tolerate duplicates because probe()
      // distincts its candidates; postings get the same discipline
      // here, on the pruned slice only — bounded cost.
      .select(col("shingle"), col("doc_id")).distinct()
      .persist()
    val kept = batchDf
      .join(idx.groupBy(col("shingle")).agg(count(lit(1)).as("dfi")),
        Seq("shingle"), "left")
      .filter(col("dfb") + coalesce(col("dfi"), lit(0L)) <= maxDf)
      .select(col("shingle"))
    val bKept = batchSh.join(kept, Seq("shingle")).persist()
    val nNew = bKept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    val scored = idx
      .join(broadcast(bKept.select(col("doc_id").as("new_id"), col("shingle"))),
        Seq("shingle"))
      .groupBy(col("new_id"), col("doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("common"))
      .join(nNew.select(col("doc_id").as("new_id"), col("n_new")), Seq("new_id"))
      .withColumn("containment", round(
        col("common").cast("double") / col("n_new"), 6))
      .filter(col("containment") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("n_new"), col("common"),
        col("containment"))
    // materialize before unpersisting the inputs the plan references
    val out = scored.localCheckpoint(true)
    Seq(batchSets, batchSh, batchDf, idx, bKept).foreach(_.unpersist())
    out
  }
}
