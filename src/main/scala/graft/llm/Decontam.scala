package graft.llm

import graft.Tables
import graft.functions.WinnowedFingerprint.winnowed_fingerprint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the train/test-overlap screen every
  * pre-training pipeline runs before a corpus ships: flag corpus
  * documents that share verbatim content with a HOLDOUT (benchmark) set,
  * so evaluation numbers aren't inflated by memorized test items. Two
  * screens, the standard pair:
  *
  *   - [[decontaminate]]: exact n-gram overlap (n = 13 by convention —
  *     the GPT-3/PaLM-style contamination rule). ANSI-expressible ⇒
  *     DuckDB-oracle-checked end to end.
  *   - [[decontaminateFingerprint]]: winnowed-fingerprint containment
  *     (robust to small edits a fixed n-gram screen slips past, cf.
  *     Schleimer et al., SIGMOD'03). Engine-specific rolling hash ⇒ no
  *     SQL oracle; LlmOpsSpec verifies planted contamination is caught.
  *
  * 100 TB scale design: the benchmark side is SMALL by nature (a holdout
  * of eval sets, not a corpus), so its distinct n-gram posting list is
  * broadcast — the corpus streams through a broadcast-hash join with NO
  * corpus-wide shuffle; the only shuffle is the final aggregate on the
  * (corpus doc, benchmark doc) hit pairs, which is contamination-sized,
  * not corpus-sized. Docs shorter than n tokens cannot share an n-gram
  * and drop out before the join.
  *
  * Here the holdout is carved from `documents` by doc_id so the query is
  * reproducible against the oracle; in production the benchmark side is
  * its own table and the same plan applies unchanged.
  */
object Decontam {

  /** Word n-grams of a token array: positions 1..len−n+1, each joined
    * with single spaces. Empty (never null) below n tokens — the
    * `slice(toks, 1, 0)` branch keeps the type array<string> with zero
    * elements, so a downstream explode simply drops the row. */
  def ngramsFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(slice(toks, lit(1), lit(0)))

  def ngramsSql(n: Int): String =
    s"""CASE WHEN len(toks) >= $n
       |  THEN list_transform(generate_series(1, len(toks) - ${n - 1}),
       |         i -> array_to_string(toks[i:i+${n - 1}], ' '))
       |  ELSE [] END""".stripMargin

  /** The production API: (corpus doc, benchmark doc, shared distinct
    * n-gram count) for every contaminated pair. Both inputs are
    * (doc_id, text) relations; the benchmark is broadcast.
    *
    * The corpus posting stream is NOT pre-deduplicated — a corpus-side
    * distinct would shuffle the whole exploded corpus before the join.
    * Instead the per-pair `count_distinct` dedups AFTER the broadcast
    * join, so the only shuffle keys are join SURVIVORS (contaminated
    * hits — contamination-sized, not corpus-sized). */
  def decontaminatePairs(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 13): DataFrame = {
    // the corpus-side posting stream runs through the native lazy
    // generator ([[graft.functions.NGramGenerate]]) — the composed
    // explode(transform(...)) form materializes the whole ~n×-text
    // n-gram array per row first; same rows, same oracle
    def postings(df: DataFrame, idName: String) = df
      .select(col("doc_id").as(idName), TextOps.tokens(col("text")).as("toks"))
      .select(col(idName),
        graft.functions.NGramGenerate.ngram_gen(col("toks"), n).as("gram"))
    postings(corpus, "doc_id")
      .join(broadcast(postings(benchmark, "bench_id").distinct()), Seq("gram"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** Registered query: the holdout is carved from `documents` as
    * doc_id ≡ benchRem (mod benchMod), the rest is the corpus. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 13,
      benchMod: Int = 20, benchRem: Int = 7): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val isBench = col("doc_id") % benchMod === benchRem
    decontaminatePairs(docs.filter(!isBench), docs.filter(isBench), n)
  }

  /** Cross-split leakage audit — the check run AFTER
    * [[graft.llm.Sampling.splitCorpus]] carves train/val/test: a val
    * doc sharing a long n-gram with a train doc means the held-out set
    * leaks into training and every eval on it is inflated. Same
    * broadcast-postings shape as [[decontaminatePairs]] with the val
    * side as the (small) benchmark; the split rule is the EXACT md5
    * bucketing splitCorpus ships, so this composes two shipped
    * operators rather than inventing a third. */
  def splitLeakage(spark: SparkSession, dir: String, n: Int = 13): DataFrame = {
    // PROJECT the split (a pure function of doc_id) instead of joining
    // a corpus-sized recomputation of it back onto the corpus -- the
    // join formulation shuffled every (doc_id, text) row once before
    // decontamination even started
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"),
        Sampling.splitColumn(col("doc_id")).as("split"))
    decontaminatePairs(
        docs.filter(col("split") === "train"),
        docs.filter(col("split") === "val"), n)
      .select(col("doc_id").as("train_id"), col("bench_id").as("val_id"),
        col("n_shared"))
  }

  def splitLeakageSql(n: Int = 13): String =
    s"""WITH s AS (SELECT doc_id,
       |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6' THEN 'train'
       |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'f3' THEN 'val'
       |       ELSE 'test' END AS split
       |  FROM documents),
       |tk AS (SELECT d.doc_id, s.split, ${TextOps.tokensSql} AS toks
       |       FROM documents d JOIN s ON d.doc_id = s.doc_id),
       |g AS (SELECT doc_id, split, unnest(${ngramsSql(n)}) AS gram FROM tk),
       |t AS (SELECT doc_id AS train_id, gram FROM g WHERE split = 'train'),
       |v AS (SELECT doc_id AS val_id, gram FROM g WHERE split = 'val')
       |SELECT t.train_id, v.val_id,
       |  CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared
       |FROM t JOIN v USING (gram)
       |GROUP BY 1, 2""".stripMargin

  def decontaminateSql(n: Int = 13, benchMod: Int = 20, benchRem: Int = 7): String =
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSql} AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(${ngramsSql(n)}) AS gram FROM tk),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $benchMod != $benchRem),
       |b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % $benchMod = $benchRem)
       |SELECT c.doc_id, b.bench_id, CAST(count(DISTINCT c.gram) AS BIGINT) AS n_shared
       |FROM c JOIN b USING (gram)
       |GROUP BY 1, 2""".stripMargin

  /** Fingerprint-containment screen: corpus docs sharing any winnowed
    * fingerprint hash with a benchmark doc, with the shared-hash count
    * and the containment ratio (shared / benchmark-doc fingerprint size —
    * how much of the benchmark item appears). Same broadcast-benchmark
    * shape as [[decontaminate]]; the winnowing window makes it catch
    * near-verbatim overlap that an exact 13-gram screen misses when every
    * 13-gram spans at least one edited token. */
  def decontaminateFingerprintPairs(corpus: DataFrame, benchmark: DataFrame,
      k: Int = 8, window: Int = 4, minShared: Int = 2,
      corpusFpsKey: Option[String] = None): DataFrame = {
    def fps(df: DataFrame) =
      df.select(col("doc_id"), winnowed_fingerprint(col("text"), k, window).as("fp"))
    // no distinct: WinnowedFingerprint already returns a deduplicated
    // sorted hash array per doc, so the exploded posting rows are
    // unique by construction -- a distinct here planned an extra
    // aggregate/exchange over the benchmark postings for zero change
    val bench = fps(benchmark)
      .select(col("doc_id").as("bench_id"), size(col("fp")).as("bench_fp_size"),
        explode(col("fp")).as("h"))
    // corpus side streams into the broadcast join; dedup happens in the
    // post-join distinct-aggregate (see decontaminatePairs). The posting
    // frame is ~16 bytes/fingerprint — the dir path memoizes it so
    // repeated screens (and Bench's min-of-2) skip the winnowing scan.
    def buildCps = fps(corpus)
      .select(col("doc_id"), explode(col("fp")).as("h"))
    val cps = corpusFpsKey match {
      case Some(key) => graft.Caches.memo(corpus.sparkSession, key)(buildCps)
      case None => buildCps
    }
    cps.join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"), col("bench_fp_size"))
      // count, not countDistinct: both posting sides are per-doc SETS
      // (WinnowedFingerprint dedups and sorts each doc's hashes), so for
      // a fixed (doc_id, bench_id) every matching h joins exactly 1×1 —
      // the joined rows are already distinct per (doc_id, bench_id, h)
      // and the two aggregates are equal by construction. countDistinct
      // planned a second expand/aggregate layer over the joined postings
      // for zero change (r22; LlmOpsSpec "decontam: shared-gram count
      // matches a brute-force set intersection" pins the equality).
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("bench_fp_size"), 6)
          .as("containment"))
  }

  /** Decontamination APPLIED — the kept corpus after dropping every doc
    * the 13-gram screen flags (the step that actually ships: the pair
    * list is the audit artifact, this is the training set). A left-anti
    * join against the distinct flagged ids; the flagged side is
    * contamination-sized, so AQE broadcasts it and the corpus never
    * shuffles. Text is dropped from the output projection (IDs +
    * metadata are what the artifact needs); the scan still prunes to
    * exactly the columns used. */
  def decontamApply(spark: SparkSession, dir: String, n: Int = 13,
      benchMod: Int = 20, benchRem: Int = 7): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .filter(col("doc_id") % benchMod =!= benchRem)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val flagged = decontaminate(spark, dir, n, benchMod, benchRem)
      .select(col("doc_id")).distinct()
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  def decontamApplySql(n: Int = 13, benchMod: Int = 20, benchRem: Int = 7): String =
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSql} AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(${ngramsSql(n)}) AS gram FROM tk),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $benchMod != $benchRem),
       |b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % $benchMod = $benchRem),
       |hits AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (gram))
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id % $benchMod != $benchRem
       |  AND d.doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin

  /** DuckDB oracle for [[decontaminateFingerprint]]: replay the winnowed
    * fingerprint sets ([[TextOps.fingerprintCtesSql]] — exact mod-2^64
    * hash reconstruction), split on the bench carve, and join postings.
    * `fp` is already a per-doc SET, so `count(*) OVER (PARTITION BY
    * doc_id)` is the engine's `size(fp)` and the post-join
    * `count(DISTINCT h)` matches its distinct-aggregate. */
  def decontamFpSql(k: Int = 8, window: Int = 4, benchMod: Int = 20,
      benchRem: Int = 7, minShared: Int = 2): String =
    s"""WITH ${TextOps.fingerprintCtesSql(k, window)},
       |cfp AS (SELECT doc_id, h FROM fp WHERE doc_id % ${benchMod} != ${benchRem}),
       |bfp AS (SELECT doc_id AS bench_id, h,
       |          count(*) OVER (PARTITION BY doc_id) AS bench_fp_size
       |        FROM fp WHERE doc_id % ${benchMod} = ${benchRem}),
       |j AS (SELECT cfp.doc_id, bfp.bench_id, bfp.bench_fp_size,
       |        CAST(count(DISTINCT cfp.h) AS BIGINT) AS n_shared
       |      FROM cfp JOIN bfp ON cfp.h = bfp.h
       |      GROUP BY 1, 2, 3)
       |SELECT doc_id, bench_id, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / bench_fp_size, 6) AS containment
       |FROM j WHERE n_shared >= ${minShared}""".stripMargin

  def decontaminateFingerprint(spark: SparkSession, dir: String,
      k: Int = 8, window: Int = 4, benchMod: Int = 20, benchRem: Int = 7,
      minShared: Int = 2): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val isBench = col("doc_id") % benchMod === benchRem
    decontaminateFingerprintPairs(docs.filter(!isBench), docs.filter(isBench),
      k, window, minShared,
      corpusFpsKey = Some(s"decontamFps:$dir:$k:$window:$benchMod:$benchRem"))
  }
}
