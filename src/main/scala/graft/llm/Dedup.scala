package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication operators over the `documents` table — the core
  * of a pre-training data pipeline. Four families, each designed
  * bucketed-first (never all-pairs) so they survive a 100 TB corpus:
  *
  *   - exact:      hash-groupBy on md5(text)            (one shuffle)
  *   - n-gram set: exact Jaccard via PREFIX-FILTERED inverted-index join
  *                 (posting lists bounded — stop-shingles never join)
  *   - MinHash:    LSH banding → bucket join → exact verify of candidates
  *   - SimHash:    64-bit signature → banded Hamming join (pigeonhole-exact)
  *
  * The exact operators are oracle-checked against DuckDB; the
  * approximate ones are verified in DedupSpec against brute-force truth
  * at sf0.001 (planted near-dups must all be recalled).
  */
object Dedup {

  /** Lineage truncation for the iterative fixpoint loops (label
    * propagation, star contraction): RELIABLE `checkpoint()` when the
    * context has a checkpoint dir configured, else `localCheckpoint()`.
    * localCheckpoint blocks live only on executors — on a real cluster a
    * lost executor kills the whole fixpoint loop mid-iteration, so
    * cluster runs set `sc.setCheckpointDir` (HDFS/S3) and every loop
    * here switches to fault-tolerant checkpoints automatically;
    * local[n] runs skip the filesystem round-trip. */
  private def chk(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** 3-token shingles of the whitespace tokens (word-salad corpora make
    * unigram sets non-discriminative; 3-grams separate the planted
    * near-dup pairs from the background at Jaccard ≥ 0.6).
    *
    * `toks` MUST be a materialized column (bound by a projection), not
    * the raw tokenize expression: `transform`'s lambda evaluates its
    * argument per sequence element, so an inlined split-regex would run
    * O(tokens²) per document — measured 50× slower on the corpus. */
  def shinglesFromTokens(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array(concat_ws(" ", toks)))

  val shinglesSql: String =
    """CASE WHEN len(toks) >= 3
      |  THEN list_transform(generate_series(1, len(toks) - 2),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  /** Exact dedup (hash-groupBy): md5 over the raw text; keeper = min id.
    * At scale: one shuffle on the 128-bit hash — never on the text
    * itself — and the groups are tiny, so no skew concern. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash,
      |  CAST(min(doc_id) AS BIGINT) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Prefix relation for the prefix-filtered Jaccard join: each doc's
    * first `n − ceil(t·n) + 1` distinct shingles under the global
    * (document-frequency ASC, shingle ASC) total order.
    *
    * Losslessness (prefix-filtering principle — Chaudhuri et al. ICDE
    * 2006, Bayardo et al. WWW 2007): if J(A,B) ≥ t then
    * |A∩B| ≥ t·|A∪B| ≥ t·|A|, so the overlap O ≥ ceil(t·|A|); the
    * globally-smallest common shingle has at least O−1 common shingles
    * above it in A, hence sits within A's first |A|−O+1 ≤
    * |A|−ceil(t·|A|)+1 positions — and symmetrically for B. So every
    * qualifying pair shares a shingle inside BOTH prefixes and the
    * candidate join over prefixes misses nothing.
    *
    * This is also the stop-shingle fix: high-DF shingles sort LAST, so a
    * corpus-wide hot shingle falls outside every nontrivial prefix and
    * its quadratic posting list never enters the self-join (the
    * scale-killer in the naive inverted-index form). */
  private[graft] def prefixPostings(sets: DataFrame, threshold: Double): DataFrame = {
    val sh = sets.select(col("doc_id"), size(col("shset")).as("n"),
      explode(col("shset")).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("docfreq"))
    // the 1e-9 slack keeps fp error in t·n from ever SHORTENING the
    // prefix (a longer prefix is merely extra work; a shorter one is
    // lossy — e.g. 0.6*5 evaluates to 3.0000000000000004)
    sh.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("docfreq"), col("shingle"))))
      .filter(col("rk") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("shingle"))
  }

  /** Exact n-gram-set Jaccard similarity join, prefix-filtered: generate
    * candidate pairs from the PREFIX inverted index only (posting lists
    * bounded — see [[prefixPostings]]), then verify each candidate
    * exactly against the full per-doc shingle arrays with
    * array_intersect. Same results as the naive inverted-index join
    * (LlmOpsSpec pins equality; the DuckDB oracle computes the naive
    * form), but the one quadratic-on-skew shuffle key is gone: a 100 TB
    * corpus with a stop-shingle no longer melts one reducer. */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame =
    // memoized: the pair set is both a query result (dedup_ngram) and
    // the edge input of dedupClusters — without the cache the
    // prefix-filter join (the expensive pass) runs once per consumer
    graft.Caches.memo(spark, s"ngramPairs:$dir:$threshold") {
      val sets = shingleArrays(spark, dir)
      // the prefix relation feeds BOTH sides of the candidate self-join;
      // left inline, each side re-runs the rank window + df join ABOVE
      // the (AQE-reused) posting exchange — r21 measured the inline
      // build at 3.5-5.0 s vs 2.7 s with the relation persisted (sf0.1,
      // cold, candidates+verify included). Memoized as its own session
      // entry so Caches.release owns the lifecycle; at corpus scale this
      // persists the ~t-fraction prefix of the posting relation, the
      // frame the self-join reads twice by construction.
      val pre = graft.Caches.memo(spark, s"ngramPrefix:$dir:$threshold") {
        prefixPostings(sets, threshold)
      }
      ngramJaccardFromPrefix(pre, sets, threshold)
    }

  /** The ONE exact candidate-verification block every banded/filtered
    * dedup path funnels through: join the candidate pairs to the two
    * per-doc shingle-set relations, intersect, exact jaccard, filter,
    * round. Kept in a single place so the verification semantics (the
    * rounding precision, the union arithmetic) can never silently
    * diverge between the self-join, MinHash, incremental and
    * persisted-index paths — all four are oracle- or spec-pinned
    * against the same math. */
  private[graft] def verifiedJaccardPairs(cand: DataFrame,
      aSets: DataFrame, bSets: DataFrame,
      aName: String, bName: String, threshold: Double): DataFrame =
    cand
      .join(aSets.select(col("doc_id").as(aName), col("shset").as("sa")),
        Seq(aName))
      .join(bSets.select(col("doc_id").as(bName), col("shset").as("sb")),
        Seq(bName))
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", col("i").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col(aName), col(bName), round(col("jaccard"), 6).as("jaccard"))

  /** The prefix-filtered join over an explicit (doc_id, shset) relation —
    * the testable core of [[ngramJaccardPairs]]. */
  def ngramJaccardFromSets(sets: DataFrame, threshold: Double): DataFrame =
    ngramJaccardFromPrefix(prefixPostings(sets, threshold), sets, threshold)

  /** Candidate self-join + exact verify over an already-built prefix
    * relation — split out so [[ngramJaccardPairs]] can persist `pre`
    * (both self-join sides read it). */
  private def ngramJaccardFromPrefix(pre: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val cand = pre.select(col("doc_id").as("ida"), col("shingle"))
      .join(pre.select(col("doc_id").as("idb"), col("shingle")), Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb")).distinct()
    verifiedJaccardPairs(cand, sets, sets, "ida", "idb", threshold)
  }

  /** Shared scaffold for every brute pairwise-jaccard oracle: the
    * tk/sh/sz/inter CTE chain with a caller-chosen pair predicate and
    * output id names — ngramJaccardSql and dedupIncrementalSql differ
    * ONLY there, and keeping one copy keeps the shingling/jaccard
    * semantics in lockstep across oracles. */
  private def jaccardPairsSql(aName: String, bName: String,
      pairPredicate: String, threshold: Double): String =
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSql} AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(${shinglesSql}) AS shingle
       |            FROM tk),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS $aName, b.doc_id AS $bName, count(*) AS i
       |          FROM sh a JOIN sh b USING (shingle)
       |          WHERE $pairPredicate GROUP BY 1, 2)
       |SELECT $aName, $bName, round(j, 6) AS jaccard FROM (
       |  SELECT $aName, $bName,
       |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
       |  FROM inter
       |  JOIN sz sa ON $aName = sa.doc_id
       |  JOIN sz sb ON $bName = sb.doc_id)
       |WHERE j >= ${threshold}""".stripMargin

  def ngramJaccardSql(threshold: Double = 0.6): String =
    jaccardPairsSql("ida", "idb", "a.doc_id < b.doc_id", threshold)

  /** Near-dup CLUSTERS from the exact pair set: connected components
    * with each document labeled by the smallest doc_id in its component
    * (the canonical-survivor choice corpus dedup needs — pairs alone
    * don't tell you which copies to drop when dups chain A~B~C).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels, until a
    * fixpoint (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — this is their baseline; rounds = component
    * diameter, which for near-dup clusters is tiny since dup chains are
    * short). Each round is one keyed shuffle (edges ⋈ labels, groupBy
    * dst) with the label frame checkpointed ([[chk]] — reliable when a
    * checkpoint dir is configured) so lineage doesn't
    * compound across rounds. Singletons keep their own id. The star
    * contraction variants from the same paper are the O(log n)-round
    * upgrade if a corpus ever produces deep dup chains.
    *
    * Oracle: the same fixpoint as a DuckDB recursive CTE (UNION-dedup'd
    * reachability, then min per node). */
  def dedupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame =
    // memoized: the label-propagation loop is EAGER (per-round counts)
    // and both dedup_clusters and dedup_apply derive from the converged
    // assignment — one convergence serves both in warm mode
    graft.Caches.memo(spark, s"dedupClusters:$dir:$threshold") {
      dedupClustersUncached(spark, dir, threshold)
    }

  private def dedupClustersUncached(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val pairs = ngramJaccardPairs(spark, dir, threshold)
      .select(col("ida"), col("idb"))
    val edges = pairs
      .unionAll(pairs.select(col("idb").as("ida"), col("ida").as("idb")))
      .toDF("src", "dst")
      .persist()
    edges.count()
    // iterate ONLY over the dup subgraph: a node with no edge keeps its
    // own label forever, and at corpus scale near-dup nodes are a small
    // fraction of documents — the loop's working set is |dup nodes|,
    // not |corpus|
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .transform(chk)
    var changed = 1L
    while (changed > 0) {
      val t0 = System.nanoTime()
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nbr_min"))
      val next = labels
        .join(nbrMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        .transform(chk)
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select(col("doc_id"), col("label"))
      if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("1"))
        println(f"[labelprop] round changed=$changed%d " +
          f"${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    edges.unpersist()
    // singletons re-enter as their own cluster at the end — one join
    // against the converged dup labels (small → AQE broadcasts it;
    // no explicit hint so a pathologically dup-heavy corpus still plans
    // a sane shuffle join)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** Apply the dedup decision: keep ONE representative per near-dup
    * cluster (the cluster's minimum doc_id — [[dedupClusters]]' label is
    * exactly that minimum, so the representative test is
    * `doc_id == cluster_id` with no extra aggregation), annotated with
    * the cluster size so downstream mix accounting can weight
    * representatives. Singletons are their own representative, so the
    * output is the full deduplicated corpus, not just the dup survivors.
    *
    * Scale: everything rides on [[dedupClusters]]' working set (the dup
    * subgraph); the size rollup is one aggregate over the |corpus|-row
    * label frame and joins back broadcast-ably. */
  def dedupApply(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame = {
    val clusters = dedupClusters(spark, dir, threshold)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    clusters.filter(col("doc_id") === col("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_size"))
  }

  /** Quality-aware canonical selection: per near-dup cluster keep the
    * HIGHEST-QUALITY member instead of [[dedupApply]]'s arbitrary
    * min-id — the decision production curation actually wants (near-dup
    * groups routinely mix a clean original with truncated/mangled
    * copies; min-id keeps whichever crawled first). Quality is the
    * [[Quality.gate]] rule count (ties: longer doc, then min id), so no
    * new scoring machinery and the oracle stays exact.
    *
    * Scale: the rule columns are a zero-shuffle scan projection; the
    * only wide op is ONE shuffle of the (doc_id, cluster_id, two ints)
    * frame on cluster_id, where both window frames (rank + size) reuse
    * the same exchange. Rides [[dedupClusters]]' memoized labels. */
  def clusterCanonical(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame = {
    val clusters = dedupClusters(spark, dir, threshold)
    val q = Quality.gate(Tables.fanOut(Tables.documents(spark, dir)))
      .select(col("doc_id"),
        (col("r_nwords") + col("r_awl") + col("r_stop") + col("r_alpha") +
          col("r_repeat")).cast("int").as("rule_sum"),
        col("word_count"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val rank = byCluster.orderBy(col("rule_sum").desc,
      col("word_count").desc, col("doc_id"))
    clusters.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(rank))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canon_id"),
        col("rule_sum"), col("cluster_size"))
  }

  def clusterCanonicalSql(threshold: Double = 0.6): String =
    s"""WITH q AS (
       |${Quality.qualityFilterSql}
       |),
       |clusters AS (
       |${dedupClustersSql(threshold)}
       |),
       |j AS (SELECT c.cluster_id, c.doc_id,
       |        CAST(q.r_nwords + q.r_awl + q.r_stop + q.r_alpha + q.r_repeat AS INT) AS rule_sum,
       |        q.word_count
       |      FROM clusters c JOIN q ON c.doc_id = q.doc_id),
       |r AS (SELECT cluster_id, doc_id, rule_sum,
       |        CAST(row_number() OVER (PARTITION BY cluster_id
       |          ORDER BY rule_sum DESC, word_count DESC, doc_id) AS INT) AS rn,
       |        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |      FROM j)
       |SELECT cluster_id, doc_id AS canon_id, rule_sum, cluster_size
       |FROM r WHERE rn = 1""".stripMargin

  def dedupApplySql(threshold: Double = 0.6): String =
    s"""WITH clusters AS (
       |${dedupClustersSql(threshold)}
       |),
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM clusters GROUP BY cluster_id)
       |SELECT c.doc_id, s.cluster_size
       |FROM clusters c JOIN sizes s ON c.cluster_id = s.cluster_id
       |WHERE c.doc_id = c.cluster_id""".stripMargin

  /** Per-document n-gram NOVELTY: the share of a document's distinct
    * 3-gram shingles never seen in any EARLIER document (doc_id order —
    * the feeder's arrival order). The running-originality metric a
    * curation dashboard tracks: a crawl batch whose novelty curve
    * collapses is re-crawling what the corpus already has, long before
    * whole-document dedup would fire.
    *
    * Scale: one map-side-combinable shuffle on the shingle for the
    * first-occurrence min, one shuffle join back on the shingle (posting
    * lists are distinct-docs-per-shingle — boilerplate-capped corpora
    * keep them bounded; the join is big-big, planned sort-merge), one
    * doc_id aggregate. Rides the memoized [[shingleArrays]]. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleArrays(spark, dir)
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
    val first = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen"))
      // raw division over exact ints — IEEE-identical in both engines
      .withColumn("novelty",
        lit(1.0) - col("n_seen").cast("double") / col("n_shingles"))
  }

  def ngramNoveltySql(): String =
    s"""WITH tk AS (SELECT doc_id, ${graft.llm.TextOps.tokensSql} AS toks FROM documents),
       |s AS (SELECT doc_id, unnest(list_distinct(${shinglesSql})) AS shingle FROM tk),
       |f AS (SELECT shingle, CAST(min(doc_id) AS BIGINT) AS first_doc
       |      FROM s GROUP BY 1),
       |j AS (SELECT s.doc_id, f.first_doc FROM s JOIN f USING (shingle)),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |        CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
       |      FROM j GROUP BY 1)
       |SELECT doc_id, n_shingles, n_seen,
       |  1.0 - CAST(n_seen AS DOUBLE) / n_shingles AS novelty
       |FROM a""".stripMargin

  /** Asymmetric CONTAINMENT near-dup: pairs where the smaller
    * document's shingle set is ≥ `threshold` contained in the other's
    * (|A∩B| / min(|A|,|B|)). Symmetric Jaccard MISSES exactly this
    * case — a short doc fully quoted inside a long one scores
    * J = |A|/|B| ≈ 0 but containment 1.0 — and it is the shape
    * aggregator/excerpt pages take in a web corpus.
    *
    * Both sides are computed over the DF-CAPPED shingle universe
    * (corpus-hot shingles — boilerplate — are dropped before the join,
    * and the per-doc sizes are counted over the same capped universe,
    * so the score is "containment of the doc's distinctive content",
    * not diluted by navigation chrome).
    *
    * Scale: one posting shuffle on the shingle with the df cap
    * bounding every posting list (the join is Σ df² over kept
    * shingles, never all-pairs), one pair aggregate, two size joins.
    * Rides the memoized [[shingleArrays]]. */
  def containmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.9, maxDf: Int = 64): DataFrame = {
    // r21 A/B note: persisting either the capped posting relation or
    // the kept-shingle list was measured a net wash (warm −0.4…−0.6 s
    // but cold +0.8…+1.2 s — the extra materialization pass costs what
    // the re-aggregations above the AQE-reused exchange cost), so the
    // exchange-reuse form stays.
    val sh = shingleArrays(spark, dir)
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
    val kept = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(col("shingle"))
    val fsh = sh.join(kept, Seq("shingle"))
    val sizes = fsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    fsh.select(col("doc_id").as("ida"), col("shingle"))
      .join(fsh.select(col("doc_id").as("idb"), col("shingle")), Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("ida"), col("n").as("na")), Seq("ida"))
      .join(sizes.select(col("doc_id").as("idb"), col("n").as("nb")), Seq("idb"))
      .withColumn("containment", round(
        col("common").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= threshold)
      .select(col("ida"), col("idb"), col("na"), col("nb"),
        col("common"), col("containment"))
  }

  /** INCREMENTAL containment — the ingest-time form of
    * [[containmentPairs]], mirroring [[dedupIncremental]]'s standing-
    * index shape: which documents of a NEW batch are mostly ALREADY IN
    * the corpus. The corpus side is a standing postings index
    * (shingle → doc_id) plus its per-shingle df counts, both built once
    * and memoized (persisted as pfx-partitioned parquet in the
    * [[DedupIndex]] layout at production scale, df updated additively
    * per fold-in); each batch probes with its own shingles only. The
    * score is asymmetric BY THE INGEST QUESTION: containment of the
    * new document (common / n_new over the df-capped universe) — "is
    * this arrival distinctive, or a quote of what we hold" — so the
    * corpus doc's size is never needed and the probe never rescans the
    * index beyond the batch's own shingle keys. New-vs-new pairs are
    * deliberately out of scope (they surface at fold-in), exactly like
    * [[dedupIncremental]].
    *
    * Per-batch cost: batch postings + one df-merge LEFT join keyed on
    * the batch's shingles + a postings join where every kept shingle
    * carries ≤ maxDf corpus rows — O(batch · maxDf) candidates, never
    * index-sized. The df cap equals the full-corpus-so-far df
    * (index + batch), so the carved registration equals the batch
    * truth and shares a plain-SQL oracle. */
  def containmentProbe(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 64, batchMod: Int = 10): DataFrame = {
    val sh = shingleArrays(spark, dir)
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
    val isBatch = col("doc_id") % batchMod === 0
    val postings = graft.Caches.memo(spark,
      s"containPostings:$dir:$batchMod")(sh.filter(!isBatch))
    val dfIdx = graft.Caches.memo(spark, s"containDf:$dir:$batchMod") {
      postings.groupBy(col("shingle")).agg(count(lit(1)).as("dfi"))
    }
    val batchSh = sh.filter(isBatch)
    // df known at probe time = standing df + this batch's df; keyed on
    // the BATCH's shingles only (left join), so the standing df store
    // is a lookup, not a scan. r22 A/B note: inverting the lookup into
    // broadcast-into-stream + broadcast-back (so the memoized df store
    // never shuffles) was measured cold 1.70 → 2.9 s and warm flat —
    // the two extra broadcast-build walls each materialize the memo
    // chain sequentially, costing more locally than the avoided
    // exchange. Reverted; at true index scale the DedupIndex path (the
    // _idx form) is the one that serves this probe anyway.
    val kept = batchSh.groupBy(col("shingle")).agg(count(lit(1)).as("dfb"))
      .join(dfIdx, Seq("shingle"), "left")
      .filter(col("dfb") + coalesce(col("dfi"), lit(0L)) <= maxDf)
      .select(col("shingle"))
    val bKept = batchSh.join(kept, Seq("shingle"))
    val nNew = bKept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    postings.join(bKept.select(col("doc_id").as("new_id"), col("shingle")),
        Seq("shingle"))
      .groupBy(col("new_id"), col("doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("common"))
      .join(nNew.select(col("doc_id").as("new_id"), col("n_new")), Seq("new_id"))
      .withColumn("containment", round(
        col("common").cast("double") / col("n_new"), 6))
      .filter(col("containment") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("n_new"), col("common"),
        col("containment"))
  }

  /** The PERSISTED-index form of [[containmentProbe]] as a registered
    * query: builds the full [[DedupIndex]] (buckets + sets + postings)
    * over the standing carve ONCE per source-table stamp (a
    * [[graft.Published]] artifact), then probes the batch through
    * [[DedupIndex.containmentProbe]]'s partition-pruned postings scan.
    * Output equals the memoized operator by construction (same df-cap
    * math over the same corpus-so-far), so it shares
    * [[containmentProbeSql]]'s DuckDB oracle — the persisted path gets
    * the hash gate end-to-end, not just a spec. */
  def containmentProbeIdx(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 64, batchMod: Int = 10): DataFrame =
   graft.Caches.memo(spark,
       s"containmentProbeIdx:$dir:$threshold:$maxDf:$batchMod") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val path = graft.Published.publish(spark, graft.Published.cachePath(spark,
        "contain_index", dir, "documents.parquet", batchMod)) {
      DedupIndex.build(docs.filter(col("doc_id") % batchMod =!= 0), _)
    }
    DedupIndex.containmentProbe(spark, path,
      docs.filter(col("doc_id") % batchMod === 0), threshold, maxDf)
  }

  def containmentProbeSql(threshold: Double = 0.5, maxDf: Int = 64,
      batchMod: Int = 10): String =
    s"""WITH tk AS (SELECT doc_id, ${graft.llm.TextOps.tokensSql} AS toks FROM documents),
       |s AS (SELECT doc_id, unnest(list_distinct(${shinglesSql})) AS shingle FROM tk),
       |d AS (SELECT shingle FROM s GROUP BY 1 HAVING count(*) <= $maxDf),
       |f AS (SELECT s.doc_id, s.shingle FROM s JOIN d USING (shingle)),
       |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
       |       FROM f WHERE doc_id % $batchMod = 0 GROUP BY 1),
       |p AS (SELECT b.doc_id AS new_id, a.doc_id AS corpus_id,
       |        CAST(count(*) AS BIGINT) AS common
       |      FROM f a JOIN f b ON a.shingle = b.shingle
       |      WHERE b.doc_id % $batchMod = 0 AND a.doc_id % $batchMod <> 0
       |      GROUP BY 1, 2),
       |c AS (SELECT new_id, corpus_id, n_new, common,
       |        round(CAST(common AS DOUBLE) / n_new, 6) AS containment
       |      FROM p JOIN nb ON p.new_id = nb.doc_id)
       |SELECT new_id, corpus_id, n_new, common, containment
       |FROM c WHERE containment >= $threshold""".stripMargin

  /** INCREMENTAL novelty probe — [[ngramNovelty]]'s ingest-time form,
    * sharing [[containmentProbe]]'s standing df store: for each NEW
    * batch document, the share of its distinct shingles absent from
    * the standing corpus. A live crawl gate reads this per micro-batch
    * — a batch whose novelty collapses is re-crawling held content —
    * without the full-corpus posting join the batch form pays.
    *
    * Per-batch cost: the batch's shingles LEFT-join the df store
    * (one row per distinct standing shingle — membership is
    * `dfi IS NOT NULL`, no posting lists shipped) + one doc_id
    * aggregate. The df store is the same memoized frame
    * [[containmentProbe]] consults, so an ingest pipeline running both
    * probes pays for it once. */
  def noveltyProbe(spark: SparkSession, dir: String,
      batchMod: Int = 10): DataFrame = {
    val sh = shingleArrays(spark, dir)
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
    val isBatch = col("doc_id") % batchMod === 0
    val postings = graft.Caches.memo(spark,
      s"containPostings:$dir:$batchMod")(sh.filter(!isBatch))
    val dfIdx = graft.Caches.memo(spark, s"containDf:$dir:$batchMod") {
      postings.groupBy(col("shingle")).agg(count(lit(1)).as("dfi"))
    }
    // r22 A/B note: the broadcast-into-stream membership inversion
    // (see containmentProbe's note) was measured warm 0.28 → 0.80 and
    // cold 0.99 → 1.7 here — reverted for the same reason.
    sh.filter(isBatch)
      .join(dfIdx, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("dfi").isNotNull, 1L).otherwise(0L)).as("n_seen"))
      // raw division over exact ints — IEEE-identical in both engines
      .withColumn("novelty",
        lit(1.0) - col("n_seen").cast("double") / col("n_shingles"))
  }

  /** Duplication-multiplicity HISTOGRAM — the "how duplicated is this
    * corpus" curve (Lee et al. 2021 fig. 1 shape): for each near-dup
    * cluster size, how many clusters and how many documents sit at that
    * multiplicity. The single chart a dedup decision is made from: a
    * long tail of size-2 clusters is organic, a spike at size-50 is a
    * mirrored site.
    *
    * Scale: rides the memoized [[dedupClusters]] assignment (the
    * convergence already serves dedup_clusters/dedup_apply/
    * cluster_canonical — warm cost here is two tiny aggregates); output
    * is ≤ max-multiplicity rows, driver-scale. */
  def dupClusterHist(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame =
    dedupClusters(spark, dir, threshold)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),  col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  def dupClusterHistSql(threshold: Double = 0.6): String =
    s"""WITH clusters AS (
       |${dedupClustersSql(threshold)}
       |),
       |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM clusters GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY 1""".stripMargin

  /** CROSS-SOURCE overlap matrix — the leakage diagnostic a corpus
    * audit runs before mixing sources: for every source pair, the
    * distinct-shingle overlap as Jaccard AND containment-of-smaller.
    * Two crawls mirroring the same sites show up as a high-containment
    * pair here long before doc-level dedup quantifies it, and the
    * matrix is what decides whether "10 sources" are really 10
    * independent distributions or 3.
    *
    * Scale: one scan collapses the corpus to DISTINCT (source, shingle)
    * rows — the text never shuffles, and per-shingle posting lists are
    * ≤ |sources| entries, so the pair join is Σ_sh k_sh² ≤
    * |sources|²·|shingles| with tiny constants (the all-pairs matrix is
    * |sources|²/2 rows — driver-scale output no matter the corpus).
    * The distinct frame is memoized: it feeds BOTH self-join sides and
    * the size rollup, so without it the plan re-scans the corpus 4×
    * (seen in the round-12 plan audit). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ss = graft.Caches.memo(spark, s"sourceShingles:$dir") {
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("source"), graft.llm.TextOps.tokens(col("text")).as("toks"))
        .select(col("source"),
          explode(shinglesFromTokens(col("toks"))).as("shingle"))
        .distinct()
    }
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    ss.select(col("source").as("src_a"), col("shingle"))
      .join(ss.select(col("source").as("src_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("source").as("src_a"), col("n").as("na")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("nb")),
        Seq("src_b"))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")), 6))
      .withColumn("containment", round(col("common").cast("double") /
        least(col("na"), col("nb")), 6))
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        col("common"), col("jaccard"), col("containment"))
  }

  def sourceOverlapSql(): String =
    s"""WITH tk AS (SELECT source, ${graft.llm.TextOps.tokensSql} AS toks FROM documents),
       |s AS (SELECT DISTINCT source, shingle FROM
       |        (SELECT source, unnest(${shinglesSql}) AS shingle FROM tk)),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
       |p AS (SELECT a.source AS src_a, b.source AS src_b,
       |        CAST(count(*) AS BIGINT) AS common
       |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT src_a, src_b, x.n AS na, y.n AS nb, common,
       |  round(CAST(common AS DOUBLE) / (x.n + y.n - common), 6) AS jaccard,
       |  round(CAST(common AS DOUBLE) / least(x.n, y.n), 6) AS containment
       |FROM p JOIN sz x ON p.src_a = x.source JOIN sz y ON p.src_b = y.source""".stripMargin

  def noveltyProbeSql(batchMod: Int = 10): String =
    s"""WITH tk AS (SELECT doc_id, ${graft.llm.TextOps.tokensSql} AS toks FROM documents),
       |s AS (SELECT doc_id, unnest(list_distinct(${shinglesSql})) AS shingle FROM tk),
       |idx AS (SELECT DISTINCT shingle FROM s WHERE doc_id % $batchMod <> 0),
       |a AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |        CAST(sum(CASE WHEN idx.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
       |      FROM s LEFT JOIN idx ON s.shingle = idx.shingle
       |      WHERE s.doc_id % $batchMod = 0
       |      GROUP BY 1)
       |SELECT doc_id, n_shingles, n_seen,
       |  1.0 - CAST(n_seen AS DOUBLE) / n_shingles AS novelty
       |FROM a""".stripMargin

  def containmentPairsSql(threshold: Double = 0.9, maxDf: Int = 64): String =
    s"""WITH tk AS (SELECT doc_id, ${graft.llm.TextOps.tokensSql} AS toks FROM documents),
       |s AS (SELECT doc_id, unnest(list_distinct(${shinglesSql})) AS shingle FROM tk),
       |d AS (SELECT shingle FROM s GROUP BY 1 HAVING count(*) <= $maxDf),
       |f AS (SELECT s.doc_id, s.shingle FROM s JOIN d USING (shingle)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
       |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS common
       |      FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |c AS (SELECT ida, idb, x.n AS na, y.n AS nb, common,
       |        round(CAST(common AS DOUBLE) / least(x.n, y.n), 6) AS containment
       |      FROM p JOIN sz x ON p.ida = x.doc_id JOIN sz y ON p.idb = y.doc_id)
       |SELECT ida, idb, na, nb, common, containment
       |FROM c WHERE containment >= $threshold""".stripMargin

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., SoCC'14) — O(log n) rounds regardless
    * of component diameter, vs [[dedupClusters]]'s O(diameter)
    * propagation. Near-dup chains are usually short, so propagation is
    * the default; this is the variant a corpus with DEEP chains (e.g.
    * iteratively mutated boilerplate) needs — ClustersSpec runs it on a
    * 200-node path graph where propagation would take 200 rounds.
    *
    * Each round: large-star hangs every neighbor v > u onto
    * m = min(Γ(u) ∪ u); small-star re-hangs the v ≤ u side; both are
    * one groupBy + one join over the (symmetrized) edge list. The edge
    * set monotonically contracts toward stars rooted at component
    * minima; fixpoint when a round changes nothing. */
  private[graft] def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    // large-star: per node u over its FULL neighborhood,
    // m = min(Γ(u) ∪ {u}); hang every LARGER neighbor onto m
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star: orient each edge (hi → lo); per hi with smaller
    // neighborhood N, m = min(N); re-hang N ∪ {hi} \ {m} onto m
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hung = oriented.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
      hung.filter(col("u") =!= col("v")).distinct()
    }
    def canon(e: DataFrame): DataFrame = e.select(
      least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    var edges = pairs.toDF("u", "v").filter(col("u") =!= col("v"))
      .distinct().transform(chk)
    var converged = edges.isEmpty
    while (!converged) {
      val next = smallStar(largeStar(edges)).transform(chk)
      converged = canon(next).exceptAll(canon(edges)).isEmpty &&
        canon(edges).exceptAll(canon(next)).isEmpty
      edges = next
    }
    // fixpoint: edges are (member → component min) stars
    val members = edges.select(
      greatest(col("u"), col("v")).as("doc_id"),
      least(col("u"), col("v")).as("cluster_id")).distinct()
    members.unionAll(members.select(col("cluster_id"), col("cluster_id"))
      .distinct().toDF("doc_id", "cluster_id"))
  }

  def dedupClustersSql(threshold: Double = 0.6): String =
    s"""WITH RECURSIVE pairs AS (
       |${ngramJaccardSql(threshold)}
       |),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION ALL SELECT idb AS src, ida AS dst FROM pairs),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.doc_id = e.src)
       |SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY doc_id""".stripMargin

  // ---- MinHash + LSH ----

  /** 64-permutation MinHash signature per document: the shingle string is
    * hashed to a long ONCE, then permutation i is the seeded re-hash
    * xxhash64(i, h) over that 8-byte value (64 string hashes per posting
    * would cost ~8× more). The signature is the per-document min of each
    * permutation — 64 codegen'd min-aggregates, one shuffle on doc_id,
    * no UDF (and no ANSI-mode overflow, unlike an affine a·h+b family). */
  def minhashSignatures(sh: DataFrame, numPerm: Int = 64): DataFrame = {
    val hashed = sh.select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val mins = (0 until numPerm).map { i =>
      min(xxhash64(lit(i), col("h"))).as(s"mh_$i")
    }
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band_id, band_hash) bucket rows for a signature frame —
    * the LSH banding common to the self-join dedup, the incremental
    * index probe, and the persisted [[DedupIndex]]. */
  private[llm] def bandedBuckets(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => col(s"mh_${b * rows + r}"))
      struct(lit(b).as("band_id"), xxhash64(cols: _*).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** LSH banding: 16 bands × 4 rows over the 64 minhashes; documents
    * sharing any band bucket are candidates. P(candidate | jaccard s) =
    * 1 − (1 − s⁴)¹⁶ ≈ 1 for s ≥ 0.9 (≥ 1 − 4e−8), 0.89 at s = 0.6. */
  def minhashCandidates(sig: DataFrame, bands: Int = 16, rows: Int = 4): DataFrame = {
    val banded = bandedBuckets(sig, bands, rows)
    banded.as("x").join(banded.as("y"), Seq("band_id", "band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .distinct()
  }

  /** (doc_id, shset) for an arbitrary (doc_id, text) relation — the
    * shared shingle-set builder behind [[shingleArrays]] and the
    * persisted [[DedupIndex]]. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_sort(array_distinct(shinglesFromTokens(col("toks")))).as("shset"))

  /** Per-document distinct shingle ARRAY (sorted for determinism) —
    * candidate verification joins against this instead of re-running the
    * inverted-index self-join. */
  def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"shingleArrays:$dir") {
      // consumed 3× by dedupMinhash (signature explode + both verify
      // joins) and by the prefix-filtered exact join
      shingleSets(Tables.fanOut(Tables.documents(spark, dir)))
    }

  /** MinHash-LSH near-dedup: LSH candidates, then exact Jaccard verify by
    * joining each candidate pair to the two per-doc shingle arrays and
    * intersecting (O(candidates), never a corpus-wide self-join). This is
    * the scale path for ngramJaccardPairs: at 100 TB the banded-bucket
    * shuffle replaces any all-pairs or full-posting-list join, and the
    * verify join ships only the candidate ids + two shingle arrays. */
  def dedupMinhash(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame = {
    val sets = shingleArrays(spark, dir)
    val sh = sets.select(col("doc_id"), explode(col("shset")).as("shingle"))
    val cand = minhashCandidates(minhashSignatures(sh))
    verifiedJaccardPairs(cand, sets, sets, "ida", "idb", threshold)
  }

  /** Incremental near-dedup — the continuous-ingestion shape: which
    * documents of a NEW batch near-duplicate the EXISTING corpus. The
    * corpus side is a standing banded-bucket index (built once,
    * persisted, amortized over every future batch); each batch computes
    * its own signatures, probes the index with a bucket join, and only
    * (new, corpus) candidates are verified exactly. Per batch the cost
    * is O(batch buckets + candidates): the corpus is never re-joined
    * against itself, and new-vs-new pairs are deliberately out of scope
    * (they surface when the batch is folded into the index).
    *
    * Here the "batch" is carved from the documents table by
    * `doc_id % batchMod == 0` so the result is reproducible; in
    * production the index would be a persisted table and the batch a
    * stream micro-batch. Candidates are banding-filtered but VERIFIED
    * with the exact jaccard, so output pairs are always a subset of the
    * brute cross-slice join; at j ≥ 0.9 the 16×4 banding's miss
    * probability per qualifying pair is (1−0.9⁴)¹⁶ ≈ 4e-8 — the
    * registered threshold-0.9 form therefore equals the brute join and
    * carries [[dedupIncrementalSql]] as a DuckDB oracle (the same
    * slice-carve construction that oracled containment_probe).
    * LlmOpsSpec additionally checks subset-exactness at looser
    * thresholds, like the self-join MinHash path. */
  def dedupIncremental(spark: SparkSession, dir: String,
      threshold: Double = 0.6, batchMod: Int = 10): DataFrame = {
    val sets = shingleArrays(spark, dir)
    val isBatch = col("doc_id") % batchMod === 0
    val corpusSets = sets.filter(!isBatch)
    val batchSets = sets.filter(isBatch)
    def sigOf(s: DataFrame) = minhashSignatures(
      s.select(col("doc_id"), explode(col("shset")).as("shingle")))
    // the standing index is registered in Caches (not a loose persist):
    // repeat probes at different thresholds reuse it, and
    // Caches.release() can free it
    val index = graft.Caches.memo(spark, s"dedupIncIndex:$dir:$batchMod") {
      bandedBuckets(sigOf(corpusSets), 16, 4)
    }
    val probe = bandedBuckets(sigOf(batchSets), 16, 4)
    val cand = probe.as("n").join(index.as("c"), Seq("band_id", "band_hash"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    verifiedJaccardPairs(cand, batchSets, corpusSets,
      "new_id", "corpus_id", threshold)
  }

  /** Oracle for the threshold-0.9 registration of [[dedupIncremental]]:
    * the brute cross-slice jaccard join (batch slice × corpus slice),
    * valid because banding recall at j ≥ 0.9 is total up to a 4e-8
    * per-pair miss probability and every emitted pair is exact-verified. */
  def dedupIncrementalSql(threshold: Double = 0.9, batchMod: Int = 10): String =
    jaccardPairsSql("new_id", "corpus_id",
      s"a.doc_id % $batchMod = 0 AND b.doc_id % $batchMod <> 0", threshold)

  // ---- SimHash ----

  /** 64-bit SimHash signature per document: each distinct token hashes to
    * 64 bits; bit j of the signature is the sign of Σ_tokens (±1 per bit).
    * Expressed as 64 conditional-sum aggregates + a bit-assembly fold —
    * all codegen'd, one shuffle on doc_id. */
  /** Per-ROW SimHash-64 of a text column: distinct tokens hash to 64
    * bits; signature bit j is the sign of Σ_tokens(±1 on hash bit j).
    * A document's text lives in one row, so the signature is a pure
    * projection — 64 array-folds per row, zero shuffle, and the same
    * math as a grouped 64-aggregate formulation bit for bit. Works
    * identically on batch and STREAMING frames (a streaming near-dup
    * needs the signature before any stateful operator).
    *
    * The token hash is md5-derived (60 bits from hex chars 1-15 plus 4
    * from char 16) rather than xxhash64: md5 is the one 64-bit-capable
    * hash BOTH engines expose with identical bytes, which is what lets
    * [[dedupSimhashSql]] replay the exact signature in DuckDB and turn
    * the SimHash family (and the streaming operator pinned equal to it)
    * from spec-pinned into hash-oracled. The signature fold dominates
    * the per-token hash cost 64:1, so the md5-vs-xxhash64 delta is
    * noise; bit quality is equivalent (both uniform).
    *
    * Token-less documents get a NULL signature, not a value: the empty
    * sum would set every bit (0 >= 0), silently making all empty/
    * whitespace docs mutual Hamming-0 "near-duplicates". NULL mirrors
    * the grouped formulation, which emitted no row for such docs —
    * consumers drop nulls before banding. */
  def simhash64(text: Column): Column = {
    val toks = array_distinct(TextOps.tokens(text))
    // materialize the per-token hash as a REAL array first: the fold
    // below references it once, so each token is md5'd exactly once.
    // (The previous shape — 64 independent `aggregate` passes each
    // referencing the `transform` — re-evaluated the md5 per BIT:
    // 64 hashes per token, measured 4.4 ms/doc vs ~0.3 fused.)
    val hs = transform(toks, t => {
      val m = md5(t)
      conv(substring(m, 1, 15), 16, 10).cast("long")
        .bitwiseOR(shiftleft(conv(substring(m, 16, 1), 16, 10).cast("long"), 60))
    })
    // one pass over the tokens, accumulating all 64 ±1 counts at once;
    // integer adds commute, so the counts — and the signature bits —
    // are identical to the per-bit formulation (and to the DuckDB
    // replay in [[dedupSimhashSql]]) bit for bit
    val powers = array((0 until 64).map(j => lit(1L << j)): _*)
    val counts = aggregate(hs, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, transform(powers,
          p => when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)),
        (a, b) => a + b))
    val sig = aggregate(zip_with(counts, powers,
        (c, p) => when(c >= 0, p).otherwise(lit(0L))),
      lit(0L), (a, b) => a.bitwiseOR(b))
    when(size(toks) > 0, sig)
  }

  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"simhashSignatures:$dir") {
      // both sides of the banded self-join read it; without the cache
      // the signature pass runs twice. The per-row form needs no
      // (doc_id, token) explode and no 64-aggregate shuffle — the
      // signature rides the scan.
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), simhash64(col("text")).as("simhash"))
        .where(col("simhash").isNotNull) // token-less docs carry no signature
    }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, via the
    * shared banded-Hamming self-join ([[bandedHammingPairs]]) — EXACT
    * (full recall) by pigeonhole, never all-pairs. */
  def dedupSimhash(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    bandedHammingPairs(
      simhashSignatures(spark, dir).select(col("doc_id"), col("simhash").as("sig")),
      maxDist)

  /** DuckDB oracle for [[dedupSimhash]] AND the streaming operator
    * pinned equal to it (`streaming_neardup`) — possible because (a)
    * the md5-derived token hash reproduces bit-for-bit in DuckDB
    * (`('0x'||substr(md5(t),…))::BIGINT` == Spark's `conv(…,16,10)`),
    * (b) the per-bit ±1 sums are exact integer math (order-free), and
    * (c) [[bandedHammingPairs]] has FULL recall by pigeonhole, so the
    * banded engine answer equals this brute all-pairs Hamming join by
    * construction — the oracle checks the banding claim itself, which
    * the recall spec could only sample. Bit 63 is assembled with `|`
    * against the min-long literal (DuckDB's `<<` range-checks where
    * Java's wraps). */
  def dedupSimhashSql(maxDist: Int = 3): String = {
    val sums = (0 until 64).map { j =>
      val bit = if (j < 60) s"(h60 >> ${j}) & 1" else s"(h4 >> ${j - 60}) & 1"
      s"SUM(CASE WHEN (${bit}) = 1 THEN 1 ELSE -1 END) AS s${j}"
    }.mkString(",\n        ")
    val low = (0 until 63).map(j =>
      s"CASE WHEN s${j} >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val sig = s"((${low}) | (CASE WHEN s63 >= 0 THEN (-9223372036854775807 - 1) ELSE 0 END))"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(${TextOps.tokensSql})) AS t
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h60,
       |    ('0x' || substr(md5(t), 16, 1))::BIGINT AS h4
       |  FROM toks),
       |agg AS (
       |  SELECT doc_id,
       |        ${sums}
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, ${sig} AS sig FROM agg)
       |SELECT a.doc_id AS ida, b.doc_id AS idb,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= ${maxDist}""".stripMargin
  }

  /** EXACT banded self-join over any 64-bit signature frame
    * `(doc_id: long, sig: long)`, full recall at Hamming ≤ maxDist by
    * generalized pigeonhole, never all-pairs. Shared by SimHash text
    * dedup and dHash media dedup.
    *
    * Two regimes (multi-index Hamming search, Norouzi et al. 2012):
    *   - narrow radius: (maxDist+1) disjoint bands joined on EXACT
    *     equality — ≤ maxDist differing bits can't touch every band;
    *   - wide radius (maxDist ≥ 8): ⌈(maxDist+1)/2⌉ WIDER bands joined
    *     within per-band distance ≤ 1 (if every band differed by ≥ 2,
    *     the total would exceed maxDist). The ≤1 neighborhood is reached
    *     by exact equality against the probe side's enumerated 1-bit
    *     flips (width+1 keys/band). Wider bands collide quadratically
    *     less — 8×8-bit bands generate ~3× fewer candidates than
    *     15×4-bit at radius 14 — which is what keeps a wide-radius scan
    *     viable on a large corpus.
    *
    * Scale: the only shuffle is the band-key join; candidates are
    * verified with a codegen'd XOR+popcount BEFORE the pair-dedup
    * shuffle, so cost is driven by bucket collisions, not corpus size². */
  /** The banding regime for a 64-bit signature at Hamming radius
    * `maxDist`: (nBands, bandWidth, multiProbe). ONE definition shared
    * by the batch self-join ([[bandedHammingPairs]]) and the streaming
    * state operator ([[graft.streaming.StreamingNearDup]]) so the two
    * paths stay provably in lockstep across the whole radius range —
    * StreamingNearDupSpec pins stream == batch at radii on both sides
    * of the multi-probe boundary. */
  private[graft] def bandScheme(maxDist: Int): (Int, Int, Boolean) = {
    val multiProbe = maxDist >= 8
    val nBands = if (multiProbe) (maxDist + 2) / 2 else maxDist + 1
    (nBands, 64 / nBands, multiProbe)
  }

  private[graft] def bandedHammingPairs(sig: DataFrame, maxDist: Int): DataFrame = {
    val (nBands, width, multiProbe) = bandScheme(maxDist)
    def bandVal(b: Int) =
      shiftrightunsigned(col("sig"), b * width).bitwiseAND((1L << width) - 1)
    val exactCols = (0 until nBands).map { b =>
      struct(lit(b).as("band_id"), bandVal(b).as("band_val"))
    }
    val exact = sig.select(col("doc_id"), col("sig"),
        explode(array(exactCols: _*)).as("band"))
      .select(col("doc_id"), col("sig"), col("band.band_id"), col("band.band_val"))
    val probe = if (!multiProbe) exact else {
      // each band value plus its width single-bit flips: a pair whose
      // band distance is ≤ 1 collides with the other side's exact value
      val variantCols = (0 until nBands).flatMap { b =>
        (0 to width).map { j =>
          struct(lit(b).as("band_id"),
            (if (j == 0) bandVal(b)
             else bandVal(b).bitwiseXOR(lit(1L << (j - 1)))).as("band_val"))
        }
      }
      sig.select(col("doc_id"), col("sig"),
          explode(array(variantCols: _*)).as("band"))
        .select(col("doc_id"), col("sig"), col("band.band_id"), col("band.band_val"))
    }
    // band-key equi-join: at test SFs both sides are byte-tiny and the
    // optimizer broadcasts the probe side on its own (no hint — a
    // forced broadcast would be WRONG at corpus scale, where the
    // (width+1)-per-band probe explosion is itself corpus-sized and the
    // right plan is the partitioned shuffle join on (band_id, band_val),
    // i.e. exactly the bucketed-join shape banding exists to enable);
    // the candidate filter runs before the survivors-only distinct
    exact.as("x").join(probe.as("y"), Seq("band_id", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Edit-distance near-dup via the MULTI-PASS sorted-neighborhood
    * method (Hernández & Stolfo 1995, the record-linkage classic): per
    * pass, sort inside a prefix block, rank, compare each doc only to
    * its `window` following neighbors, keep pairs whose Levenshtein
    * distance is at most `maxFrac` of the longer text. Pass 1 keys on
    * the leading `blockChars` characters; pass 2 re-keys on the rotated
    * prefix starting at `blockChars + 1`, so a near-dup pair whose edits
    * touch the leading block (and therefore lands in different pass-1
    * blocks) still collides and is compared. The union of the passes'
    * pairs is deduplicated. Complements the set-based family: shingle
    * Jaccard is order-insensitive, edit distance catches near-identical
    * texts with small in-place edits.
    *
    * Scale: per pass, candidate generation is one range shuffle on the
    * blocking key + a rank self-join INSIDE each block — O(n·window)
    * Levenshtein calls total (codegen'd built-in), never O(n²); blocks
    * are independent so a skewed prefix can't serialize the corpus.
    * Exact SQL semantics ⇒ DuckDB oracle (its `levenshtein` is the same
    * unit-cost DP). */
  def dedupEditDistance(spark: SparkSession, dir: String, window: Int = 5,
      maxFrac: Double = 0.25, blockChars: Int = 2,
      sortChars: Int = 24): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    editDistKeyOffsets(blockChars)
      .map(off => editDistPass(spark, docs, off, window, maxFrac, blockChars, sortChars))
      .reduce(_ unionByName _)
      .distinct()
  }

  /** Blocking-key start offsets for the multi-pass run: the natural
    * prefix, then the rotated key one block further in. */
  private def editDistKeyOffsets(blockChars: Int): Seq[Int] =
    Seq(1, blockChars + 1)

  /** One sorted-neighborhood pass with the blocking/sort key taken from
    * character offset `off` (1-based, as in SQL substr). */
  private[graft] def editDistPass(spark: SparkSession, docs: DataFrame,
      off: Int, window: Int, maxFrac: Double, blockChars: Int,
      sortChars: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), col("text"),
        substring(col("text"), off, blockChars).as("blk"),
        substring(col("text"), off, sortChars).as("sk"))
      // Pin the stage parallelism HERE, not after the join: Catalyst
      // pushes the dist filter into the join condition, so the
      // Levenshtein DP — O(|ta|·|tb|) per pair, billions of cell ops at
      // sf0.1, tiny in BYTES — executes in whatever stage the window
      // exchange produces. AQE sizes ENSURE_REQUIREMENTS exchanges by
      // bytes and would coalesce that stage to ONE task, serializing
      // the whole verify pass. An explicit (numPartitions, blk)
      // repartition is REPARTITION_BY_NUM — exempt from AQE coalescing
      // — and satisfies the window's clustering requirement, so the
      // join + levenshtein chain inherits full parallelism.
      .repartition(spark.sparkContext.defaultParallelism, col("blk"))
    val w = Window.partitionBy(col("blk")).orderBy(col("sk"), col("doc_id"))
    val ranked = d.withColumn("rnk", row_number().over(w))
    // explode each row's window of target ranks so the self-join is a
    // pure (blk, rnk) EQUI-join — O(n·window) candidates exactly. A
    // range condition on rnk would instead hash-join on blk alone and
    // enumerate every same-block pair before filtering, which is
    // O(n·blocksize) and degrades with block skew at corpus scale.
    val a = ranked.select(col("blk"), col("doc_id").as("ida"),
        col("text").as("ta"),
        explode(sequence(col("rnk") + 1, col("rnk") + window)).as("rnk2"))
    val b = ranked.select(col("blk"), col("rnk").as("rnk2"),
      col("doc_id").as("idb"), col("text").as("tb"))
    // |len(a)-len(b)| ≤ edit distance, so a length gap over the budget
    // rules the pair out before any DP work; for survivors, passing the
    // per-pair budget as Levenshtein's threshold switches the DP to the
    // banded O(n·k) variant with early exit (returns -1 above budget).
    // Both are exact-semantics rewrites, so the plain-levenshtein DuckDB
    // oracle is unchanged.
    val thr = floor(greatest(length(col("ta")), length(col("tb"))) * maxFrac)
    val banded = GraftBridge.column(Levenshtein(
      GraftBridge.expression(col("ta")), GraftBridge.expression(col("tb")),
      Some(GraftBridge.expression((thr + 1).cast("int")))))
    a.join(b, Seq("blk", "rnk2"))
      .filter(abs(length(col("ta")) - length(col("tb"))) <= thr)
      .withColumn("dist", banded.cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= thr)
      .select(least(col("ida"), col("idb")).as("ida"),
        greatest(col("ida"), col("idb")).as("idb"), col("dist"))
  }

  def dedupEditDistanceSql(window: Int = 5, maxFrac: Double = 0.25,
      blockChars: Int = 2, sortChars: Int = 24): String = {
    val offs = editDistKeyOffsets(blockChars)
    val ctes = offs.map { off =>
      s"""r$off AS (SELECT doc_id, text, blk,
         |        row_number() OVER (PARTITION BY blk ORDER BY sk, doc_id) AS rnk
         |      FROM (SELECT doc_id, text,
         |              substr(text, $off, $blockChars) AS blk,
         |              substr(text, $off, $sortChars) AS sk
         |            FROM documents)),
         |p$off AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |        CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
         |        a.text AS ta, b.text AS tb
         |      FROM r$off a JOIN r$off b
         |        ON a.blk = b.blk AND b.rnk > a.rnk AND b.rnk <= a.rnk + $window)""".stripMargin
    }.mkString(",\n")
    // UNION (not UNION ALL) deduplicates pairs found by both passes,
    // mirroring the .distinct() on the Spark side.
    val passes = offs.map { off =>
      s"""SELECT least(ida, idb) AS ida, greatest(ida, idb) AS idb, dist
         |FROM p$off
         |WHERE dist <= floor(greatest(len(ta), len(tb)) * $maxFrac)""".stripMargin
    }.mkString("\nUNION\n")
    s"WITH $ctes\n$passes"
  }

  /** Exact duplicated-SPAN detection (the document-level screens above
    * miss it): every doc pair sharing a verbatim `n`-token span, with
    * the count of distinct shared spans — the cross-document verbatim-
    * reuse scan of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022), where partially-copied
    * documents (quoted boilerplate, syndicated paragraphs) survive
    * whole-document near-dup but still leak memorizable text.
    *
    * Shape for 100 TB: spans stream out of the native lazy generator
    * and are immediately HASHED to 64 bits — the per-doc distinct, the
    * document-frequency rollup, and the self-join all shuffle (long,
    * long) pairs, never span text (~16 bytes/posting vs ~100+ for the
    * strings). The self-join is gated by a document-frequency band:
    * df ≥ 2 keeps only shareable spans, df ≤ maxDf drops corpus-wide
    * boilerplate (license headers, navigation chrome) whose posting
    * lists would otherwise join quadratically — the same stop-key move
    * as [[prefixPostings]], and at maxDf the per-span fan-out is
    * bounded by maxDf², so no reducer ever sees a hot key. Hashing
    * makes a shared-span count collision-approximate in principle
    * (2⁻⁶⁴ per span pair); the DuckDB oracle counts the span STRINGS
    * and hash-matches — at any realistic corpus size the collision
    * term never surfaces, and a paranoid caller can re-verify survivor
    * pairs exactly.
    */
  def spanSharedPairs(spark: SparkSession, dir: String, n: Int = 13,
      maxDf: Int = 10): DataFrame =
    // r22 A/B note: memoizing the distinct hashed-gram frame (so the
    // df-band and posting branches read one cached materialization
    // instead of re-running the distinct HashAggregate above the reused
    // exchange) was measured warm 1.55 → ~1.2 s but cold 1.45 → 2.31 s —
    // building the 5M-row columnar cache costs more than the duplicated
    // final aggregate it saves, the same wash containmentPairs' r21 A/B
    // recorded. Reverted; the exchange-reuse form stands.
    spanSharedFromDocs(Tables.fanOut(Tables.documents(spark, dir)), n, maxDf)

  /** The span join over an explicit (doc_id, text) relation — the
    * testable core of [[spanSharedPairs]]. */
  def spanSharedFromDocs(docs: DataFrame, n: Int, maxDf: Int): DataFrame =
    spanSharedFromGrams(distinctSpanGrams(docs, n), maxDf)

  /** Distinct (doc_id, xxhash64(n-gram)) posting keys per document. */
  private def distinctSpanGrams(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.functions.NGramGenerate.ngram_gen(col("toks"), n).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      .distinct()

  private def spanSharedFromGrams(grams: DataFrame, maxDf: Int): DataFrame = {
    val shareable = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("g"))
    val posting = grams.join(shareable, Seq("g"))
    posting.select(col("g"), col("doc_id").as("doc_a"))
      .join(posting.select(col("g"), col("doc_id").as("doc_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_spans"))
  }

  /** Chunk-level cross-document dedup over CONTENT-DEFINED chunks
    * ([[TextOps.cdcChunksFromDocs]]): doc pairs sharing verbatim CDC
    * chunks, with the shared-chunk count. The byte-level sibling of
    * [[spanSharedPairs]]: token spans shear when an edit moves token
    * boundaries, while CDC chunks re-synchronize past the edit, so a
    * paragraph copied into a different document (ahead of different
    * boilerplate) still matches — LlmOpsSpec plants exactly that and
    * the spanless variant catches it.
    *
    * Same scale spine as span_shared: per-doc distinct chunk md5s, a
    * document-frequency band (2..maxDf) that keeps template chunks from
    * joining quadratically, self-join on the 128-bit hash only.
    * DuckDB-oracled since r14: the CDC boundaries replay via
    * [[TextOps.cdcCutsCtesSql]]'s local-predicate recursive CTE, the
    * pair join as the brute shared-chunk join; CdcBoundaries is also
    * verified vs a plain-Scala roll. */
  def cdcSharedPairs(spark: SparkSession, dir: String,
      maxDf: Int = 10): DataFrame =
    cdcSharedFromDocs(Tables.fanOut(Tables.documents(spark, dir)), maxDf)

  def cdcSharedFromDocs(docs: DataFrame, maxDf: Int): DataFrame = {
    val chunks = TextOps.cdcChunksFromDocs(docs)
      .select(col("doc_id"), col("chunk_md5")).distinct()
    val shareable = chunks.groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("chunk_md5"))
    val posting = chunks.join(shareable, Seq("chunk_md5"))
    posting.select(col("chunk_md5"), col("doc_id").as("doc_a"))
      .join(posting.select(col("chunk_md5"), col("doc_id").as("doc_b")),
        Seq("chunk_md5"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_chunks"))
  }

  /** DuckDB oracle for [[cdcSharedPairs]], riding the
    * [[TextOps.cdcChunksSql]] boundary replay: distinct (doc, chunk)
    * postings, the same 2..maxDf df band, pair join, shared-chunk
    * count. */
  def cdcSharedSql(maxDf: Int = 10): String =
    s"""WITH c AS (${graft.llm.TextOps.cdcChunksSql()}),
       |d AS (SELECT DISTINCT doc_id, chunk_md5 FROM c),
       |f AS (SELECT chunk_md5 FROM d GROUP BY chunk_md5
       |      HAVING count(*) >= 2 AND count(*) <= ${maxDf}),
       |p AS (SELECT d.doc_id, d.chunk_md5 FROM d JOIN f USING (chunk_md5))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS shared_chunks
       |FROM p a JOIN p b ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  def spanSharedSql(n: Int = 13, maxDf: Int = 10): String =
    s"""WITH tk AS (SELECT doc_id, ${graft.llm.TextOps.tokensSql} AS toks FROM documents),
       |g0 AS (SELECT doc_id, unnest(${Decontam.ngramsSql(n)}) AS gram FROM tk),
       |g AS (SELECT DISTINCT doc_id, gram FROM g0),
       |f AS (SELECT gram FROM g GROUP BY gram
       |      HAVING count(*) >= 2 AND count(*) <= $maxDf),
       |p AS (SELECT g.doc_id, g.gram FROM g JOIN f USING (gram))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS shared_spans
       |FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin
}
