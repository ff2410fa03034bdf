package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. `df.sample()` is
  * seed-dependent on partitioning and row order, so a re-run (or another
  * engine) draws a different subset — useless for reproducible corpus
  * curation. Hash-based sampling keys the draw on the ROW ITSELF: a row
  * is in the sample iff md5(key) lands in the accepted bucket range, so
  * any engine, any partitioning, any run selects the identical subset.
  *
  * Scale: a pure scan+filter — no shuffle, no state, embarrassingly
  * parallel; the md5 is Spark's codegen'd built-in. Rates compose: a
  * 1/8 sample of a 1/8 sample (on independent key salts) is a 1/64
  * sample, and a rate can be widened later without invalidating rows
  * already drawn (bucket prefix ranges are nested).
  */
object Sampling {

  /** The ONE 52-bit md5-uniform draw every sampler keys on:
    * u ∈ (0,1] from the first 13 hex digits of md5(key). A single
    * division after an exact integer scale — IEEE correctly-rounded, so
    * Spark and DuckDB compute bit-identical values ([[u52Sql]] is the
    * oracle-side twin; keep them in lockstep). */
  private[llm] def u52(key: Column): Column = {
    val h = conv(substring(md5(key), 1, 13), 16, 10).cast("long")
    (h + lit(1L)).cast("double") / lit(4503599627370496.0) // 2^52
  }

  /** DuckDB twin of [[u52]] over a SQL key expression. */
  private[llm] def u52Sql(keyExpr: String): String =
    s"((CAST(concat('0x', substr(md5($keyExpr), 1, 13)) AS BIGINT) + 1) / 4503599627370496.0)"

  /** The SALTED split draw key: splits must be decorrelated from every
    * unsalted sampler draw in this file (a doc kept by an unsalted
    * hash-sample has small u BY CONSTRUCTION — an unsalted split would
    * put every such doc in 'train' and silently empty the val/test
    * slices of any sampled corpus). */
  private[llm] def splitKey(docId: Column): Column =
    concat(docId.cast("string"), lit(":split"))
  private[llm] val splitKeySql: String = "CAST(doc_id AS VARCHAR) || ':split'"

  // The r16 triangular-broadcast prefix-sum helper (stratumOffsets) is
  // gone (r21): every consumer — [[epochShuffle]], [[corpusShards]],
  // [[graft.llm.CorpusExport.assignments]] — now folds its ≤256-row
  // stratum rollup driver-side into literal offset maps (one bounded
  // collect instead of an agg stage + BNLJ + broadcast builds per run).

  /** First hex nibble of md5(key) ∈ {0,1} — a deterministic 1/8 sample. */
  def hashSampleFilter(key: Column, nibbles: Seq[String] = Seq("0", "1")): Column =
    substring(md5(key.cast("string")), 1, 1).isin(nibbles: _*)

  /** Registered query: reproducible 1/8 sample of the documents table,
    * with the 2-hex-digit bucket carried so downstream strata are
    * inspectable. */
  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(hashSampleFilter(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("source"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("bucket"))

  val sampleHashSql: String =
    """SELECT doc_id, lang, source,
      |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')""".stripMargin

  /** Stratified deterministic sampling: per-stratum rates over the same
    * md5 bucket space — here the dominant language is downsampled to
    * 1/16 while the rest keep 4/16, the language-rebalancing move every
    * multilingual corpus build makes. Still a pure scan+filter; rates
    * change by widening/narrowing a stratum's accepted nibble set
    * without invalidating previously drawn rows. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
    Tables.documents(spark, dir)
      .filter(
        (col("lang") === "en" && nib === "0") ||
        (col("lang") =!= "en" && nib.isin("0", "1", "2", "3")))
      .select(col("doc_id"), col("lang"))
  }

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0')
      |   OR (lang <> 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3'))""".stripMargin

  /** Temperature-based mixture resampling (τ = 0.5): downsample every
    * language toward the smallest one with rate_s = √(min_cnt / cnt_s), so
    * expected kept docs per stratum is √(min_cnt · cnt_s) — the standard
    * mixture-flattening move (multilingual BERT's exponent-smoothing,
    * Gopher's domain reweighting) made DETERMINISTIC: the accept draw is
    * md5(doc_id), the rate becomes a 16-bit hex threshold, and the
    * accept test is a lexicographic compare of fixed-width lowercase hex
    * (hex strings order exactly as their numeric value).
    *
    * Every arithmetic step is engine-exact: min over integer counts,
    * one exact-int division, one IEEE sqrt (correctly rounded in both
    * engines), floor ×65536 — so Spark and the DuckDB oracle select the
    * identical subset.
    *
    * Scale: per-source counts are a tiny aggregate (|sources| rows), the
    * global min is a window over that tiny frame, and the join back to
    * the corpus broadcasts — the corpus itself sees one scan + filter,
    * no shuffle. */
  def resampleTemperature(spark: SparkSession, dir: String): DataFrame =
    resampleTemperatureBy(Tables.documents(spark, dir), "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("grp_cnt"), col("rate"))

  /** Generic form: flatten the mix over any stratum column, drawing on
    * md5 of any key column. */
  def resampleTemperatureBy(docs: DataFrame, stratum: String,
      key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rates = docs
      .groupBy(col(stratum)).agg(count(lit(1)).as("grp_cnt"))
      // the window is over the |strata|-row aggregate, not the corpus —
      // a deliberate single-partition pass on a tiny frame
      .withColumn("min_cnt", min(col("grp_cnt")).over(Window.partitionBy()))
      .withColumn("rate",
        sqrt(col("min_cnt").cast("double") / col("grp_cnt")))
      .withColumn("thr",
        lpad(lower(hex(floor(col("rate") * 65536).cast("long"))), 4, "0"))
    // The equality disjunct is LOAD-BEARING, not an optimization: at
    // rate = 1.0 (the min stratum, and only there) floor(rate*65536) =
    // 0x10000 is FIVE hex digits, which lpad(4) truncates to "1000" —
    // a threshold that would silently drop ~15/16 of the stratum if the
    // hash compare ever saw it. Both engines truncate identically, and
    // PiiQualitySpec pins "min stratum kept whole".
    docs.join(broadcast(rates), stratum)
      .filter(col("grp_cnt") === col("min_cnt") ||
        substring(md5(col(key).cast("string")), 1, 4) < col("thr"))
  }

  /** Deterministic train/val/test split (~90/5/5): the first two hex
    * digits of md5(doc_id, salt) are a uniform draw over 256 buckets;
    * lexicographic thresholds 'e6' (230) and 'f3' (243) cut them
    * 230/13/13. Salting the hash decorrelates the split from every
    * other md5(doc_id) draw in this file (sampling and resampling use
    * the unsalted key), so holding out test docs doesn't bias any
    * sample. Disjoint + exhaustive by construction; any engine
    * recomputes the identical assignment. Pure scan-side projection —
    * zero shuffle at any corpus size. */
  def splitCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        splitColumn(col("doc_id")).as("split"))

  /** The salted 256-bucket split expression as a standalone column, so
    * consumers that already hold a documents frame (splitLeakage) can
    * PROJECT the split instead of joining a corpus-sized recomputation
    * of it back onto itself. */
  def splitColumn(docId: Column): Column = {
    val bucket = substring(md5(splitKey(docId)), 1, 2)
    when(bucket < "e6", "train").when(bucket < "f3", "val")
      .otherwise("test")
  }

  val splitCorpusSql: String =
    """SELECT doc_id, lang, source,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6' THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'f3' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** Per-source document cap — the per-domain quota every web-scale
    * corpus applies (C4 / Gopher keep at most N pages per domain so one
    * crawler-friendly site can't dominate the mix): keep the top `cap`
    * docs per source, ranked by a deterministic quality proxy (here
    * n_chars desc, doc_id tiebreak — a learned quality score slots into
    * the same ORDER BY).
    *
    * Exact and skew-proof in two phases: phase 1 ranks inside
    * (source, doc_id % fanout) sub-buckets and keeps each bucket's top
    * `cap` — the global per-source top `cap` is contained in the union
    * of bucket top-`cap`s, so nothing true is lost — and phase 2 ranks
    * the ≤ cap·fanout survivors per source. A single hot domain with
    * 10⁹ pages hits phase 1 as `fanout` independent partitions of a
    * bounded window, never one giant sorted partition. */
  def sourceCap(spark: SparkSession, dir: String, cap: Int = 15,
      fanout: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(fanout)))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val pruned = docs.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= cap).drop("r1")
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    pruned.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= cap)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
  }

  def sourceCapSql(cap: Int = 15): String =
    s"""WITH r AS (SELECT doc_id, source, n_chars,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY n_chars DESC, doc_id) AS INT) AS rank
       |FROM documents)
       |SELECT doc_id, source, n_chars, rank FROM r WHERE rank <= $cap""".stripMargin

  /** Weighted sampling without replacement via PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, JACM 2007): each row draws a uniform
    * u ∈ (0,1] and gets priority q = w/u; the k highest-priority rows
    * are the sample. Inclusion probability is proportional to weight
    * (up to the threshold clamp), and unlike Efraimidis–Spirakis's
    * u^(1/w) keys the transform is a single DIVISION — IEEE
    * correctly-rounded, so Spark and DuckDB compute bit-identical
    * priorities and the oracle hash-matches (pow/ln differ in the last
    * ulp across libm implementations; division never does).
    *
    * The draw is md5-keyed like every sampler in this file: u is the
    * first 52 bits of md5(doc_id) scaled to (0,1], so any engine, any
    * partitioning, any run selects the identical sample. Weight here is
    * n_chars (longer docs proportionally likelier — the usual
    * byte-budget sampling); a learned utility column drops into the
    * same expression.
    *
    * Scale: zero-shuffle scan to compute priorities + one
    * TakeOrdered(k) — no global sort, no state. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 60): DataFrame = {
    val q = col("n_chars").cast("double") / u52(col("doc_id").cast("string"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), q.as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
  }

  /** DETERMINISTIC train/val/test split summary — the reproducible
    * corpus partition every training run needs: each document draws a
    * SALTED md5-uniform u ([[splitKey]] — still a pure function of
    * doc_id, so adding or removing OTHER documents never moves a doc
    * across splits and a growing corpus's val set stays stable, but
    * decorrelated from every unsalted sampler draw: an unsalted split
    * would land every hash-sampled doc in 'train' and silently empty
    * the val/test slices of any sampled corpus — the bias
    * [[splitCorpus]] already salts against), lands in train/val/test
    * by fixed thresholds, and
    * the registered query reports the (source, split) grid with doc and
    * token masses — the sanity table checked before any run ("did the
    * split starve a source's val slice").
    *
    * Scale: one narrow scan (hash, token count are per-row projections)
    * into a (|sources|·3)-row aggregate — map-side combinable, output
    * driver-scale. The per-doc assignment frame (the actual split
    * consumers read) is [[corpusSplitAssign]], the same projection
    * without the rollup. */
  def corpusSplit(spark: SparkSession, dir: String, trainFrac: Double = 0.8,
      valFrac: Double = 0.1): DataFrame =
    corpusSplitAssign(spark, dir, trainFrac, valFrac)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))

  /** Per-document split assignment: (doc_id, source, n_toks, split). */
  def corpusSplitAssign(spark: SparkSession, dir: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val u = u52(splitKey(col("doc_id")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.llm.TextOps.tokens(col("text"))).cast("long").as("n_toks"),
        when(u < trainFrac, "train")
          .when(u < trainFrac + valFrac, "val")
          .otherwise("test").as("split"))
  }

  def corpusSplitSql(trainFrac: Double = 0.8, valFrac: Double = 0.1): String =
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(${graft.llm.TextOps.tokensSql}) AS BIGINT) AS n_toks,
       |    ${u52Sql(splitKeySql)} AS u
       |  FROM documents)
       |SELECT source,
       |  CASE WHEN u < $trainFrac THEN 'train'
       |       WHEN u < ${trainFrac + valFrac} THEN 'val'
       |       ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |FROM d GROUP BY 1, 2""".stripMargin

  def weightedSampleSql(k: Int = 60): String =
    s"""SELECT doc_id, n_chars,
       |  CAST(n_chars AS DOUBLE) /
       |    ${u52Sql("CAST(doc_id AS VARCHAR)")} AS priority
       |FROM documents
       |ORDER BY priority DESC, doc_id LIMIT $k""".stripMargin

  /** Per-stratum weighted quota: the same priority draw ranked INSIDE
    * each source — a weighted random quota per domain (the sampling
    * counterpart of [[sourceCap]]'s deterministic quality quota; what a
    * web-corpus build runs when each domain may contribute at most k
    * docs but the pick within a domain should be weight-proportional
    * rather than "longest wins"). One shuffle on source for the window;
    * every other step is scan-side. Skew note: a hot source makes one
    * window partition large — at a real corpus size the two-phase
    * sub-bucket trick sourceCap uses applies verbatim to the priority
    * ranking too. */
  def weightedSampleBySource(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = u52(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("n_chars").cast("double") / u).as("priority"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"),
        col("rank"))
  }

  def weightedSampleBySourceSql(k: Int = 20): String =
    s"""WITH p AS (SELECT doc_id, source, n_chars,
       |  CAST(n_chars AS DOUBLE) /
       |    ${u52Sql("CAST(doc_id AS VARCHAR)")} AS priority
       |FROM documents),
       |r AS (SELECT doc_id, source, n_chars, priority,
       |        CAST(row_number() OVER (PARTITION BY source
       |          ORDER BY priority DESC, doc_id) AS INT) AS rank
       |      FROM p)
       |SELECT doc_id, source, n_chars, priority, rank FROM r WHERE rank <= $k""".stripMargin

  /** TOKEN-BUDGET CORPUS MIXER (the Dolma / SlimPajama "mixer" step):
    * given a per-source weight and a corpus-wide token budget, compute
    * the deterministic accept rate that makes each source's SAMPLED
    * token mass track `budget · w_s / ΣW`, then hash-accept documents at
    * that rate. Weights here are a deterministic function of the source
    * name (1 + len(source) mod 3 — data-independent, replays at any SF);
    * a production build passes its real weight table the same way.
    *
    * rate_s = min(1, budget · (w_s / ΣW) / tokens_s); a doc is kept iff
    * its 52-bit md5-uniform draw u < rate_s. Output is the per-source
    * mix report: (source, weight, tokens_total, target_share,
    * accept_rate, n_kept, tokens_kept).
    *
    * Scale: pass 1 aggregates per-source token totals (ONE map-side-
    * combinable shuffle; the result is one row per source — trivially
    * broadcastable); pass 2 re-scans, joins the broadcast rate table,
    * and hash-filters — no shuffle of the corpus itself, ever, and the
    * accept decision is keyed on the row (re-runs, other engines, and
    * later budget widenings draw nested subsets, same contract as the
    * rest of this file). The double scan is deliberate: at 100 TB,
    * re-reading two narrow columns beats materializing a per-doc frame. */
  def tokenBudgetMix(spark: SparkSession, dir: String,
      budget: Long = 20000L): DataFrame = {
    // memoized per-doc token counts: the mix consumes perDoc TWICE
    // (source totals, then the kept aggregate) and Spark does not reuse
    // identical subplans — uncached, the corpus would be tokenized
    // twice per run. Unlike dsir's exploded frame (one row per TOKEN —
    // measured slower cached), this is one narrow row per DOC, so the
    // cache is corpus-small and both consumers ride it.
    val perDoc = graft.Caches.memo(spark, s"tokmix_perdoc:$dir") {
      perDocTokens(Tables.fanOut(Tables.documents(spark, dir)))
    }
    // the per-source rate table is SOURCES-bounded (the previous plan
    // already asserted that by broadcasting it) — collect it once,
    // computed by Spark's own arithmetic (bit-identity with the
    // distributed form needs no replication), memoized per
    // (dir, budget): the epochShuffle offsets discipline. This folds
    // the old plan's three pre-pass jobs (totals agg, ΣW broadcast,
    // rate-table broadcast) into one memoized collect; warm runs pay
    // exactly ONE job — the kept aggregate over the cached per-doc
    // frame with a literal-map rate lookup.
    val totals = graft.Caches.memoObj[Array[(String, Double, Long, Double, Double)]](
        spark, s"tokmix_totals:$dir:$budget") {
      mixRates(perDoc, budget).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
        .sortBy(_._1)
    }
    val rateMap = totals.map(t => t._1 -> t._5).toMap
    val kept = perDoc
      .filter(col("u") < element_at(typedLit(rateMap), col("source")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_toks")).as("tokens_kept"))
    import spark.implicits._
    val totalsDf = totals.toSeq
      .toDF("source", "weight", "tokens_total", "target_share",
        "accept_rate")
    totalsDf.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("weight"), col("tokens_total"),
        col("target_share"), col("accept_rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
  }

  /** The sources-bounded (source, weight, tokens_total, target_share,
    * accept_rate) rate table — the mix's trained-constant frame, shared
    * by [[tokenBudgetMix]]'s collected path and
    * [[tokenBudgetMixFromDocs]]' fully-distributed form. */
  private def mixRates(perDoc: DataFrame, budget: Long): DataFrame = {
    val weight = (lit(1L) + length(col("source")).cast("long") % 3L)
      .cast("double").as("weight")
    val weighted = perDoc.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("tokens_total"))
      .withColumn("weight", weight)
    // ΣW via a 1-row broadcast (the bm25 corpus-stats idiom) — an empty
    // partitionBy window would serialize the frame and WARN, even though
    // it is one row per source
    val sumW = weighted.agg(sum(col("weight")).as("sum_w"))
    weighted.crossJoin(broadcast(sumW))
      .withColumn("target_share", col("weight") / col("sum_w"))
      .withColumn("accept_rate",
        least(lit(1.0),
          lit(budget.toDouble) * col("target_share")
            / col("tokens_total").cast("double")))
      .select(col("source"), col("weight"), col("tokens_total"),
        col("target_share"), col("accept_rate"))
  }

  /** (doc_id, source, n_toks, u): the per-document token-count frame
    * the budget mix aggregates — split out so [[tokenBudgetMix]] can
    * memoize it across the two consumers in its own plan. */
  private def perDocTokens(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
      u52(col("doc_id").cast("string")).as("u"))

  def tokenBudgetMixFromDocs(docs: DataFrame, budget: Long,
      preCounted: Boolean = false): DataFrame = {
    val perDoc = if (preCounted) docs else perDocTokens(docs)
    val totals = mixRates(perDoc, budget)
    val kept = perDoc
      .join(broadcast(totals.select(col("source"), col("accept_rate"))),
        Seq("source"))
      .filter(col("u") < col("accept_rate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_toks")).as("tokens_kept"))
    totals.join(kept, Seq("source"), "left")
      .select(col("source"), col("weight"), col("tokens_total"),
        col("target_share"), col("accept_rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
  }

  def tokenBudgetMixSql(budget: Long = 20000L): String =
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS n_toks,
       |    ${u52Sql("CAST(doc_id AS VARCHAR)")} AS u
       |  FROM documents),
       |t AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS tokens_total,
       |        CAST(1 + len(source) % 3 AS DOUBLE) AS weight
       |      FROM d GROUP BY source),
       |r AS (SELECT source, tokens_total, weight,
       |        weight / sum(weight) OVER () AS target_share,
       |        least(1.0, CAST($budget AS DOUBLE) * (weight / sum(weight) OVER ())
       |          / CAST(tokens_total AS DOUBLE)) AS accept_rate
       |      FROM t),
       |k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept,
       |        CAST(sum(d.n_toks) AS BIGINT) AS tokens_kept
       |      FROM d JOIN r ON d.source = r.source
       |      WHERE d.u < r.accept_rate GROUP BY d.source)
       |SELECT r.source, r.weight, r.tokens_total, r.target_share,
       |  r.accept_rate,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  coalesce(k.tokens_kept, 0) AS tokens_kept
       |FROM r LEFT JOIN k ON r.source = k.source""".stripMargin

  /** EPOCH SHUFFLE: a reproducible global training order — every doc
    * gets the ordinal it holds in the corpus sorted by
    * (md5(doc_id), doc_id). Any engine, any partitioning, any run
    * assigns the identical permutation; a salt in the key gives
    * per-epoch re-shuffles that stay replayable.
    *
    * Scale: the naive formulation (`row_number() OVER (ORDER BY …)`) is
    * the oracle — and a single-partition serialization point on a
    * cluster. The Spark side computes the SAME ordinal in two phases:
    * (1) a tiny per-stratum count frame over the leading hex nibbles
    * of the hash (the default 2 nibbles = 256 strata; one map-side-
    * combinable shuffle), collected and prefix-summed driver-side —
    * bounded by the stratum count, never by rows; (2) row_number WITHIN
    * each stratum (strata-way parallel window) + a literal offset-map
    * lookup, no join. Because
    * strata are ordered by the hash's leading nibbles, stratum offset +
    * within-stratum rank ≡ the global rank — a distributed ordinal with
    * no global window. The stratum width is a knob, not a semantic: any
    * hex-prefix length yields the identical permutation (the default 2
    * nibbles = 256 strata keeps window partitions ≤ ~n/256; use 3–4 at
    * cluster scale). */
  def epochShuffle(spark: SparkSession, dir: String,
      stratumNibbles: Int = 2, salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a per-epoch salt re-keys the permutation while staying replayable;
    // the empty default concatenates to the bare id — oracle-identical
    val h = md5(concat(col("doc_id").cast("string"), lit(salt)))
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), h.as("h"),
        substring(h, 1, stratumNibbles).as("stratum"))
    // Stratum offsets via ONE bounded collect (≤ 16^nibbles rows — the
    // count of strata, never of documents) folded driver-side and
    // embedded as a literal map: the r16 triangular-broadcast-join
    // prefix sum was semantically identical but scheduled an agg job, a
    // broadcast build, and an extra join stage per run — a 65× warm
    // floor over the 0.012 s oracle for a 500-row frame. Hex strings
    // sort identically in Scala and SQL ([0-9a-f] is ASCII-ordered), so
    // the running sum in stratum order IS the global-rank offset.
    // memoObj like the trained-constant models: the ≤256-entry offset
    // map is a deterministic derivation of (dir, nibbles, salt), so warm
    // passes skip the count job entirely; cold attribution re-pays it
    val offsets = graft.Caches.memoObj[Map[String, Long]](spark,
      s"epochShuffleOffsets:$dir:$stratumNibbles:$salt") {
      val counts = docs.groupBy(col("stratum")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      // data-contract bound made loud: strata are hex-nibble prefixes, so
      // the collect is ≤ 16^nibbles rows by construction — a violation
      // means the stratum derivation changed, not that the data grew
      require(counts.length <= BigInt(16).pow(stratumNibbles),
        s"epochShuffle stratum rollup returned ${counts.length} rows, " +
          s"over the 16^$stratumNibbles bound the driver-side fold relies on")
      var acc = 0L
      counts.map { case (s, c) => val o = acc; acc += c; s -> o }.toMap
    }
    docs
      .withColumn("r", row_number().over(
        Window.partitionBy(col("stratum")).orderBy(col("h"), col("doc_id"))))
      .select(col("doc_id"), col("source"),
        (element_at(typedLit(offsets), col("stratum")) + col("r"))
          .cast("long").as("epoch_pos"))
  }

  val epochShuffleSql: String =
    """SELECT doc_id, source,
      |  CAST(row_number() OVER (
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
      |    AS epoch_pos
      |FROM documents""".stripMargin

  /** TOKEN-BALANCED CORPUS SHARDING: cut the [[epochShuffle]] order into
    * `nShards` contiguous shards of ~equal TOKEN mass (each shard is one
    * sequential-read unit for a training data loader; contiguity in the
    * shuffled order preserves the epoch permutation across shard files).
    * A document lands in the shard its starting token offset falls in:
    * `shard = (tokens_before_me · nShards) div total_tokens` — balanced
    * to within one document's tokens of T/nShards by construction.
    * Output is the manifest the loader consumes: (shard_id, n_docs,
    * n_tokens).
    *
    * Scale: the global running token total in shuffle order is the
    * classic DISTRIBUTED PREFIX SUM — within-stratum window cumsum (the
    * stratum is the hash's 2-nibble prefix, so partitions are bounded
    * and the window never globalizes) + per-stratum token offsets from
    * a ≤256-row triangular broadcast join + a 1-row broadcast total.
    * Everything else is the document scan; one shuffle for the stratum
    * window, one for the final shard rollup. The oracle replays the
    * same arithmetic with a naive global window. */
  def corpusShards(spark: SparkSession, dir: String, nShards: Int = 16,
      stratumNibbles: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(col("doc_id").cast("string"))
    // per-doc token counts ride the SAME memo as tokenBudgetMix: the
    // window branch and the per-stratum totals branch both consume the
    // tokenized frame, and their exchanges differ in shape (window
    // shuffle vs partially-aggregated rollup) so AQE cannot reuse one
    // for the other -- uncached, the corpus is tokenized twice here and
    // a third time by token_budget_mix. The md5/stratum columns are
    // cheap post-cache arithmetic on the narrow cached rows.
    val perDoc = graft.Caches.memo(spark, s"tokmix_perdoc:$dir") {
      perDocTokens(Tables.fanOut(Tables.documents(spark, dir)))
    }
    val docs = perDoc.select(col("doc_id"), h.as("h"),
      substring(h, 1, stratumNibbles).as("stratum"), col("n_toks"))
    val w = Window.partitionBy(col("stratum")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumIn = docs.withColumn("cum_in",
      coalesce(sum(col("n_toks")).over(w), lit(0L)))
    // Stratum token offsets + grand total via ONE bounded collect
    // (≤ 16^nibbles rows), folded driver-side and embedded as literals —
    // the [[epochShuffle]] offsets discipline (r21). The previous
    // triangular-broadcast prefix sum + 1-row total rollup was
    // semantically identical but scheduled an agg stage, a BNLJ and TWO
    // broadcast builds per run over a ≤256-row frame — pure job floor.
    // Hex strata sort identically in Scala and SQL, so the running sum
    // in stratum order IS the token-offset map; the literal t_total is
    // the same Spark-computed per-stratum rollup, summed exactly
    // (longs) on the driver.
    val offT = graft.Caches.memoObj[(Map[String, Long], java.lang.Long)](
        spark, s"corpusShardOffsets:$dir:$stratumNibbles") {
      val counts = docs.groupBy(col("stratum")).agg(sum(col("n_toks")).as("st"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      // same hex-nibble contract as epochShuffle's offsets: ≤ 16^nibbles
      // rows by construction; degrade loudly, never as a driver OOM
      require(counts.length <= BigInt(16).pow(stratumNibbles),
        s"corpusShards stratum rollup returned ${counts.length} rows, " +
          s"over the 16^$stratumNibbles bound the driver-side fold relies on")
      var acc = 0L
      val m = counts.map { case (s, c) => val o = acc; acc += c; s -> o }.toMap
      (m, java.lang.Long.valueOf(acc))
    }
    cumIn
      .withColumn("cum_before",
        element_at(typedLit(offT._1), col("stratum")) + col("cum_in"))
      .withColumn("shard_id",
        least(lit((nShards - 1).toLong),
          coalesce(expr(s"(cum_before * $nShards) div ${offT._2}"), lit(0L)))
          .cast("int"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  def corpusShardsSql(nShards: Int = 16): String =
    s"""WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (SELECT n_toks,
       |        coalesce(sum(n_toks) OVER (ORDER BY h, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS cum_before,
       |        sum(n_toks) OVER () AS t_total
       |      FROM d)
       |SELECT CAST(least(${nShards - 1}, coalesce((cum_before * $nShards) // t_total, 0))
       |         AS INT) AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |FROM c GROUP BY 1""".stripMargin

  val resampleTemperatureSql: String =
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS grp_cnt
      |           FROM documents GROUP BY lang),
      |m AS (SELECT lang, grp_cnt, min(grp_cnt) OVER () AS min_cnt FROM c),
      |r AS (SELECT lang, grp_cnt, min_cnt,
      |        sqrt(CAST(min_cnt AS DOUBLE) / grp_cnt) AS rate,
      |        lpad(lower(to_hex(CAST(floor(sqrt(CAST(min_cnt AS DOUBLE) / grp_cnt)
      |          * 65536) AS BIGINT))), 4, '0') AS thr
      |      FROM m)
      |SELECT d.doc_id, d.lang, r.grp_cnt, r.rate
      |FROM documents d JOIN r ON d.lang = r.lang
      |WHERE r.grp_cnt = r.min_cnt
      |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr""".stripMargin

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * rank every document by its mean per-token log importance ratio
    * ln(p_target/p_raw) under add-α-smoothed unigram models, where the
    * TARGET distribution is the trusted in-domain slice (here the
    * `lang='en'` documents — the stand-in for "looks like my reference
    * corpus") and RAW is the whole corpus. Top-scoring documents are
    * the ones distribution-matched to the target — the selection
    * pass that runs after hard quality rules and before mixing.
    *
    * Determinism: per-token ratios round to 9 decimals and sum as
    * DECIMAL(28,9) (the [[graft.llm.TextOps.lmScore]] trick), so the
    * per-document reduction is order-independent and the DuckDB oracle
    * exact; the final mean is an exact-decimal / exact-count division.
    *
    * Scale: ONE tokenize of the corpus — the target and raw counts
    * come from the same (term, raw-count, target-count) aggregate
    * (target occurrences are a conditional sum, not a second scan).
    * The per-token scoring join shuffles positions against the
    * vocabulary-bounded model on the term (sort-merge; the vocabulary
    * of a 100 TB corpus does NOT broadcast), then one doc_id aggregate
    * and a TakeOrdered(k). */
  def dsirSelect(spark: SparkSession, dir: String, k: Int = 100,
      alpha: Double = 0.5): DataFrame = {
    // CORPUS-CONDITIONAL scoring path (the promotedProbe discipline):
    // when the vocabulary fits the driver bound, collect the model ONCE
    // (Spark's own arithmetic produces the values — no replication
    // risk) and score every document in a single Generate-side fold
    // ([[graft.functions.DsirDocScore]]): scan → project → TakeOrdered,
    // ZERO corpus shuffles, where the join plan exchanged the exploded
    // token frame twice (join on term, re-aggregate on doc_id). The
    // per-term long is the unscaled CAST(lr AS DECIMAL(28,9)) — exactly
    // the decimal the join plan's SUM added, so the two paths are
    // bit-identical (SamplingSpec pins it) and share the oracle. The
    // vocabulary of a 100 TB corpus does NOT fit a driver — past the
    // bound the engine keeps the shuffle join.
    val scorer = graft.Caches.memoObj[Option[graft.functions.DsirScorer]](
        spark, s"dsir_scorer:$dir:$alpha") {
      if (nVocabTerms(spark, dir) > dsirMaxDriverVocab) None
      else {
        val model = dsirModel(spark, dir)
        val totals = model.agg(count(lit(1)).as("v"),
          sum(col("cr")).as("nr"), sum(col("ct")).as("nt")) // 1 row
        val pT = (col("ct").cast("double") + lit(alpha)) /
          (col("nt").cast("double") + lit(alpha) * col("v").cast("double"))
        val pR = (col("cr").cast("double") + lit(alpha)) /
          (col("nr").cast("double") + lit(alpha) * col("v").cast("double"))
        // lr is a function of the TERM alone: one log+round per
        // distinct term, never per token instance
        val modelLr = model.crossJoin(broadcast(totals))
          .select(col("term"), round(log(pT / pR), 9).as("lr"))
        val rows = modelLr.collect()
        val terms = new Array[String](rows.length)
        val lrs = new Array[Long](rows.length)
        var i = 0
        while (i < rows.length) {
          terms(i) = rows(i).getString(0)
          // unscaled long of BigDecimal.valueOf(lr).setScale(9, HALF_UP)
          // — Spark's double → Decimal(28,9) cast, made exact
          lrs(i) = java.math.BigDecimal.valueOf(rows(i).getDouble(1))
            .setScale(9, java.math.RoundingMode.HALF_UP)
            .unscaledValue().longValueExact()
          i += 1
        }
        Some(new graft.functions.DsirScorer(terms, lrs))
      }
    }
    scorer match {
      case Some(sc) =>
        Tables.fanOut(Tables.documents(spark, dir))
          .select(col("doc_id"),
            graft.functions.DsirDocScore.dsir_doc_score(
              graft.llm.TextOps.tokens(col("text")), sc).as("a"))
          .select(col("doc_id"),
            element_at(col("a"), 1).cast("long").as("n_tokens"),
            round(element_at(col("a"), 2) / element_at(col("a"), 1), 6)
              .as("dsir_score"))
          .filter(col("n_tokens") > 0)
          .orderBy(col("dsir_score").desc, col("doc_id"))
          .limit(k)
      case None => dsirSelectShuffle(spark, dir, k, alpha)
    }
  }

  /** The fully-distributed DSIR scoring plan — the path a vocabulary
    * past [[dsirMaxDriverVocab]] takes: explode → sort-merge join
    * positions against the vocabulary model on term → doc_id aggregate.
    * Kept callable so SamplingSpec pins its bit-identity with the
    * collected-table fold whatever path the gate picks. */
  private[graft] def dsirSelectShuffle(spark: SparkSession, dir: String,
      k: Int = 100, alpha: Double = 0.5): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.llm.TextOps.tokens(col("text"))).as("term"))
    val model = dsirModel(spark, dir)
    val totals = model.agg(count(lit(1)).as("v"),
      sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val pT = (col("ct").cast("double") + lit(alpha)) /
      (col("nt").cast("double") + lit(alpha) * col("v").cast("double"))
    val pR = (col("cr").cast("double") + lit(alpha)) /
      (col("nr").cast("double") + lit(alpha) * col("v").cast("double"))
    val modelLr = model.crossJoin(broadcast(totals))
      .select(col("term"), round(log(pT / pR), 9).as("lr"))
    toks.join(modelLr, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .as("slr"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("slr").cast("double") / col("n_tokens"), 6)
          .as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Driver-collect bound for the DSIR scoring table: 4M distinct terms
    * (a few hundred MB of strings + longs) — far above any verify-SF
    * vocabulary, far below a web corpus's. */
  private[graft] val dsirMaxDriverVocab: Long = 1L << 22

  /** The memoized DSIR unigram model: vocabulary-sized
    * (term, raw-count, target-count). Small — unlike the exploded token
    * frame — and caching it removes one of the two corpus tokenize+agg
    * passes from every warm run. */
  private def dsirModel(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"dsir_model:$dir") {
      Tables.fanOut(Tables.documents(spark, dir))
        .select((col("lang") === "en").cast("long").as("is_t"),
          explode(graft.llm.TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("cr"), sum(col("is_t")).as("ct"))
    }

  /** Memoized distinct-term count of the corpus vocabulary — the gate
    * statistic for [[dsirSelect]]'s driver-collect decision (one cheap
    * agg over the cached vocabulary-sized model frame; warm passes skip
    * it entirely). */
  private[graft] def nVocabTerms(spark: SparkSession, dir: String): Long =
    graft.Caches.memoObj[java.lang.Long](spark, s"dsir_vocab:$dir") {
      java.lang.Long.valueOf(dsirModel(spark, dir).count())
    }.longValue()

  def dsirSelectSql(k: Int = 100, alpha: Double = 0.5): String = {
    val pT = s"((CAST(ct AS DOUBLE) + $alpha) / (CAST(nt AS DOUBLE) + $alpha * CAST(v AS DOUBLE)))"
    val pR = s"((CAST(cr AS DOUBLE) + $alpha) / (CAST(nr AS DOUBLE) + $alpha * CAST(v AS DOUBLE)))"
    s"""WITH tk AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_t,
       |        unnest(${graft.llm.TextOps.tokensSql}) AS term
       |      FROM documents),
       |m AS (SELECT term, CAST(count(*) AS BIGINT) AS cr,
       |        CAST(sum(is_t) AS BIGINT) AS ct
       |      FROM tk GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS v,
       |        CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
       |      FROM m),
       |s AS (SELECT tk.doc_id,
       |        round(ln($pT / $pR), 9) AS lr
       |      FROM tk JOIN m ON tk.term = m.term CROSS JOIN t),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        sum(CAST(lr AS DECIMAL(28,9))) AS slr
       |      FROM s GROUP BY 1)
       |SELECT doc_id, n_tokens,
       |  round(CAST(slr AS DOUBLE) / n_tokens, 6) AS dsir_score
       |FROM a ORDER BY dsir_score DESC, doc_id LIMIT $k""".stripMargin
  }
}
