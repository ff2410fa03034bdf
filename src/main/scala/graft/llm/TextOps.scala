package graft.llm

import graft.Tables
import graft.functions.WinnowedFingerprint.winnowed_fingerprint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: quality stats, language ID, token counting, and
  * winnowed fingerprinting. All are single-pass narrow transformations —
  * no shuffle, fully inside whole-stage codegen — so they stream over a
  * 100 TB corpus at scan speed.
  *
  * Parity rules with the DuckDB oracles: tokenization is
  * `split(lower(text), "\s+")` minus empties on both sides; ratios divide
  * exact integer counts in double (identical IEEE ops both engines).
  */
object TextOps {

  /** Whitespace tokens of lower(text), empties removed. Since round 16
    * this is the native [[graft.functions.Tokenize]] kernel — one
    * byte-scan pass, no interpreted filter lambda, stays inside
    * whole-stage codegen; bit-identical to the composed
    * `filter(split(lower(text), "\s+"), len > 0)` chain, which
    * [[tokensHof]] keeps as the spec-pinned cross-check. */
  def tokens(text: Column): Column =
    graft.functions.Tokenize.tokenize(text)

  /** The pre-r16 composed formulation — spec-only parity twin. */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  val tokensSql: String =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)"""

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Per-document quality metrics (length / punctuation / stopword ratios
    * — the usual pre-training quality-filter features). */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("word_count", size(col("toks")).cast("long"))
      .withColumn("punct_count", regexp_count(col("text"), lit("[.,!?;:]")).cast("long"))
      .withColumn("stop_count",
        size(filter(col("toks"), t => t.isInCollection(stopwords))).cast("long"))
      .select(
        col("doc_id"),
        col("word_count"),
        // zero-token guard on every word_count division: Spark's 0/0
        // reads NaN while DuckDB's list_sum([]) reads NULL -- the two
        // engines would diverge the moment the generator emits one
        // blank document. Pin the degenerate case to an explicit 0.0
        // on BOTH sides so the oracle match is by definition.
        when(col("word_count") > 0,
          round(aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
            .cast("double") / col("word_count"), 6)).otherwise(lit(0.0))
          .as("avg_word_len"),
        when(col("n_chars") > 0,
          round(col("punct_count").cast("double") / col("n_chars"), 6))
          .otherwise(lit(0.0)).as("punct_ratio"),
        when(col("word_count") > 0,
          round(col("stop_count").cast("double") / col("word_count"), 6))
          .otherwise(lit(0.0)).as("stop_ratio"),
        when(col("word_count") > 0,
          round(least(col("word_count").cast("double") / lit(50.0), lit(1.0)) * 0.5
            + (col("stop_count").cast("double") / col("word_count")) * 0.5, 6))
          .otherwise(lit(0.0)).as("quality_score"))

  val textStatsSql: String =
    s"""WITH t AS (SELECT doc_id, n_chars, text, ${tokensSql} AS toks FROM documents),
       |c AS (SELECT doc_id, n_chars,
       |        CAST(len(toks) AS BIGINT) AS word_count,
       |        CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_count,
       |        CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS len_sum,
       |        CAST(len(list_filter(toks, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")})))
       |          AS BIGINT) AS stop_count
       |      FROM t)
       |SELECT doc_id, word_count,
       |  CASE WHEN word_count > 0
       |    THEN round(CAST(len_sum AS DOUBLE) / word_count, 6) ELSE 0.0 END
       |    AS avg_word_len,
       |  CASE WHEN n_chars > 0
       |    THEN round(CAST(punct_count AS DOUBLE) / n_chars, 6) ELSE 0.0 END
       |    AS punct_ratio,
       |  CASE WHEN word_count > 0
       |    THEN round(CAST(stop_count AS DOUBLE) / word_count, 6) ELSE 0.0 END
       |    AS stop_ratio,
       |  CASE WHEN word_count > 0
       |    THEN round(least(CAST(word_count AS DOUBLE) / 50.0, 1.0) * 0.5
       |      + (CAST(stop_count AS DOUBLE) / word_count) * 0.5, 6) ELSE 0.0 END
       |    AS quality_score
       |FROM c""".stripMargin

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "mit"))

  /** Language ID by stopword-marker voting + a CJK codepoint check —
    * the classic cheap n-gram/marker heuristic (fasttext-style models
    * don't ship in this container). Deterministic tie order en>fr>es>de. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("cjk", regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")))
    val withHits = markers.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"${lang}_hits",
        size(filter(col("toks"), t => t.isInCollection(words))).cast("long"))
    }
    withHits.select(
      col("doc_id"), col("lang"),
      when(col("cjk") > 0, lit("zh"))
        .when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("es_hits") &&
          col("en_hits") >= col("de_hits"), lit("en"))
        .when(col("fr_hits") >= col("es_hits") && col("fr_hits") >= col("de_hits"), lit("fr"))
        .when(col("es_hits") >= col("de_hits"), lit("es"))
        .otherwise(lit("de")).as("pred_lang"))
      .withColumn("is_match", (col("lang") === col("pred_lang")).cast("int"))
  }

  val langIdSql: String = {
    val hits = markers.map { case (lang, words) =>
      s"CAST(len(list_filter(toks, x -> x IN (${words.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS ${lang}_hits"
    }.mkString(",\n       |        ")
    s"""WITH t AS (SELECT doc_id, lang, text, ${tokensSql} AS toks FROM documents),
       |c AS (SELECT doc_id, lang,
       |        len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
       |        ${hits}
       |      FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN cjk > 0 THEN 'zh'
       |       WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
       |       WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
       |       WHEN es_hits >= de_hits THEN 'es'
       |       ELSE 'de' END AS pred_lang,
       |  CAST(CASE WHEN lang = (CASE WHEN cjk > 0 THEN 'zh'
       |       WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
       |       WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
       |       WHEN es_hits >= de_hits THEN 'es'
       |       ELSE 'de' END) THEN 1 ELSE 0 END AS INT) AS is_match
       |FROM c""".stripMargin
  }

  /** Token counting: whitespace tokens plus a BPE-flavored subword
    * estimate (≤4-char alpha chunks, digits, and punctuation each count
    * as one token — the usual chars/4-ish pre-tokenizer bound). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"))
          .cast("long").as("bpe_tokens"),
        col("n_chars"))
      .withColumn("chars_per_token",
        when(col("bpe_tokens") > 0,
          round(col("n_chars").cast("double") / col("bpe_tokens"), 6))
          .otherwise(lit(0.0)))

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len(${tokensSql}) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       |  n_chars,
       |  CASE WHEN len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')) > 0
       |    THEN round(CAST(n_chars AS DOUBLE)
       |      / len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')), 6)
       |    ELSE 0.0 END AS chars_per_token
       |FROM documents""".stripMargin

  /** True subword token counting via greedy byte-pair merges
    * ([[graft.functions.BpeTokenCount]] — a codegen'd native
    * expression), beside the whitespace count for calibration: this is
    * the number a trainer's tokenizer actually bills, where ws_tokens
    * undercounts. Zero-shuffle scan-speed projection like the rest of
    * the family; DuckDB-oracled since round 14 ([[tokenCountBpeSql]]
    * replays the merge loop over the DISTINCT vocabulary via a
    * recursive CTE). chars_per_token is a FLOOR-SCALED division:
    * round(n/d, 6) lands on an exactly-representable 7th-decimal half
    * whenever the reduced divisor is a power of two ≥ 128 (token
    * counts hit those), where Spark HALF_UP and DuckDB half-even
    * disagree — floor(n·1e6/d)/1e6 is IEEE-identical in both. */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        graft.functions.BpeTokenCount.bpe_token_count(col("text")).as("bpe_tokens"),
        col("n_chars"))
      .withColumn("chars_per_token",
        when(col("bpe_tokens") > 0,
          floor(col("n_chars") * lit(1000000L) / col("bpe_tokens")) / lit(1e6))
          .otherwise(lit(0.0)))

  /** Overlapping token-window chunking — the unit-of-training-sample
    * splitter (chunk of `chunkTokens` tokens every `stride`). Pure
    * narrow transformation: tokens bound once, starts exploded, slices
    * taken per row; at corpus scale this streams with no shuffle. */
  def docChunks(spark: SparkSession, dir: String, chunkTokens: Int = 50,
      stride: Int = 25): DataFrame =
    graft.Tables.fanOut(graft.Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1),
          greatest(size(col("toks")) - lit(chunkTokens - 1), lit(1)),
          lit(stride))).as("s"))
      .select(
        col("doc_id"),
        ((col("s") - 1) / lit(stride)).cast("int").as("chunk_id"),
        concat_ws(" ", slice(col("toks"), col("s"), lit(chunkTokens))).as("chunk_text"),
        least(size(col("toks")) - col("s") + 1, lit(chunkTokens)).cast("int")
          .as("n_tokens"))

  def docChunksSql(chunkTokens: Int = 50, stride: Int = 25): String =
    s"""WITH tk AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |st AS (SELECT doc_id, toks,
       |         unnest(generate_series(1, greatest(len(toks) - ${chunkTokens - 1}, 1),
       |                ${stride})) AS s
       |       FROM tk)
       |SELECT doc_id,
       |  CAST((s - 1) // ${stride} AS INT) AS chunk_id,
       |  array_to_string(toks[s : s + ${chunkTokens - 1}], ' ') AS chunk_text,
       |  CAST(least(len(toks) - s + 1, ${chunkTokens}) AS INT) AS n_tokens
       |FROM st""".stripMargin

  /** C4/RefinedWeb-style BOILERPLATE SCRUB: drop every fixed-width token
    * chunk that recurs across ≥ `minDf` distinct documents (navigation
    * strings, license footers, templated headers — the within-document
    * text that document-level dedup cannot touch), and reassemble each
    * document from its surviving chunks (normalized: lowercased tokens
    * re-joined single-spaced, same as [[tokens]]). Output one row per
    * input document: (doc_id, clean_text, n_dropped).
    *
    * Scale: chunking is a pure per-row projection (a doc's text lives in
    * one row); the df count is ONE map-side-combinable shuffle carrying
    * distinct chunks, and the hot set — corpus boilerplate, tiny by
    * definition — broadcasts to both the semi and anti joins, so the
    * corpus never shuffles on its way through the scrub; reassembly
    * shuffles once on doc_id. Exact SQL semantics ⇒ DuckDB oracle. */
  def boilerplateScrub(spark: SparkSession, dir: String, minDf: Int = 3,
      chunkTokens: Int = 8): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // r22 A/B note: memoizing the chunk frame (the hot-set aggregate and
    // the broadcast-probe mark branch share no exchange, so the
    // tokenize+chunk projection runs once per branch) was measured cold
    // 1.13 → 1.40 s with no warm win outside steal noise — caching the
    // corpus-sized chunk strings costs more than the duplicated
    // projection it saves (the containmentPairs r21 A/B wash). Reverted.
    boilerplateScrubFromParts(docs, chunkFrame(docs, chunkTokens), minDf)
  }

  def boilerplateScrubFromDocs(docs: DataFrame, minDf: Int,
      chunkTokens: Int): DataFrame =
    boilerplateScrubFromParts(docs, chunkFrame(docs, chunkTokens), minDf)

  /** (doc_id, grp, chunk) for every aligned `chunkTokens`-token chunk —
    * a pure per-row projection + generator over the token array. */
  private def chunkFrame(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val toks = tokens(col("text"))
    val chunkArr = when(size(toks) > 0,
      transform(sequence(lit(0), ((size(toks) - 1) / chunkTokens).cast("int")),
        i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens)))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), posexplode(chunkArr).as(Seq("grp", "chunk")))
  }

  private def boilerplateScrubFromParts(docs: DataFrame, chunks: DataFrame,
      minDf: Int): DataFrame = {
    val hot = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("ddf"))
      .filter(col("ddf") >= minDf)
      .select(col("chunk"))
    // r21: ONE mark-and-aggregate pass instead of semi+anti joins with
    // separate per-doc aggregations — the old shape recomputed the
    // chunking projection for each join probe (broadcast probes are not
    // exchanges, so AQE reuse cannot cover them) and shuffled doc_id
    // twice. A left join against the hot set marks each chunk; one
    // groupBy(doc_id) derives both outputs: collect_list skips the
    // NULLed-out hot chunks (kept text, same (grp, chunk) sort), the
    // indicator sum counts them (n_dropped). All-hot docs produce
    // array_join([]) = "" — identical to the old anti-join dropout path.
    val marked = chunks.join(
      broadcast(hot.withColumn("__hot", lit(true))), Seq("chunk"), "left_outer")
    val perDoc = marked.groupBy(col("doc_id")).agg(
      sum(when(col("__hot"), 1L).otherwise(0L)).as("n_dropped"),
      array_join(
        transform(array_sort(collect_list(when(col("__hot").isNull,
          struct(col("grp"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  def boilerplateScrubSql(minDf: Int = 3, chunkTokens: Int = 8): String =
    s"""WITH tk AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS tok,
       |               generate_subscripts(toks, 1) AS ord
       |        FROM tk WHERE len(toks) > 0),
       |chunks AS (SELECT doc_id, CAST((ord - 1) // $chunkTokens AS INT) AS grp,
       |                  string_agg(tok, ' ' ORDER BY ord) AS chunk
       |           FROM tok GROUP BY 1, 2),
       |hot AS (SELECT chunk FROM chunks
       |        GROUP BY 1 HAVING count(DISTINCT doc_id) >= $minDf),
       |kept AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY grp) AS clean_text
       |         FROM chunks WHERE chunk NOT IN (SELECT chunk FROM hot)
       |         GROUP BY 1),
       |flagged AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped
       |            FROM chunks WHERE chunk IN (SELECT chunk FROM hot)
       |            GROUP BY 1)
       |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
       |       coalesce(f.n_dropped, 0) AS n_dropped
       |FROM documents d
       |LEFT JOIN kept k ON d.doc_id = k.doc_id
       |LEFT JOIN flagged f ON d.doc_id = f.doc_id""".stripMargin

  /** Content-defined sibling of [[boilerplateScrub]]: chunk identity
    * comes from CDC (gear-hash) boundaries instead of fixed token
    * windows, so a footer shifted by an arbitrary insertion still
    * produces the SAME chunks and is still scrubbed — the fixed-window
    * form only catches window-aligned repeats. Byte-level contract like
    * the rest of the CDC family (chunk identity = md5 of the byte
    * slice; reassembly concatenates surviving byte slices in order, so
    * a doc with no hot chunks reconstructs ITSELF exactly). Gear
    * boundaries are byte positions: on non-ASCII text a dropped chunk
    * may split a codepoint at its edges — treat the output as bytes
    * there. DuckDB-oracled since r14 alongside cdc_chunks/cdc_shared
    * (the boundary predicate is local to the last 6 bytes — see
    * [[cdcCutsCtesSql]]).
    *
    * Scale: boundary scan + slicing ride the document scan (narrow);
    * one distinct-chunk shuffle for df; broadcast hot set; one doc_id
    * shuffle to reassemble — same shape as the aligned form. */
  def boilerplateScrubCdc(spark: SparkSession, dir: String,
      minDf: Int = 3): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // r22 A/B note: the chunk-frame memo was measured cold 1.13 → 1.3-1.8 s
    // with no warm win — see [[boilerplateScrub]]'s note. Reverted.
    boilerplateScrubCdcFromParts(docs, cdcChunkBytes(docs), minDf)
  }

  def boilerplateScrubCdcFromDocs(docs: DataFrame, minDf: Int): DataFrame =
    boilerplateScrubCdcFromParts(docs, cdcChunkBytes(docs), minDf)

  /** (doc_id, chunk_idx, cb, h) for every CDC chunk, bytes + md5 — a
    * narrow per-row boundary scan + slice riding the document scan. */
  private def cdcChunkBytes(docs: DataFrame): DataFrame = {
    val b = docs.select(col("doc_id"), col("text").cast("binary").as("tb"),
      graft.functions.CdcBoundaries.cdc_boundaries(col("text")).as("bnds"))
    b.select(col("doc_id"), col("tb"),
        posexplode(zip_with(
          slice(col("bnds"), lit(1), greatest(size(col("bnds")) - 1, lit(0))),
          slice(col("bnds"), lit(2), greatest(size(col("bnds")) - 1, lit(0))),
          (a, z) => struct(a.as("off"), (z - a).as("len")))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        expr("substring(tb, col.off + 1, col.len)").as("cb"))
      .withColumn("h", md5(col("cb")))
  }

  private def boilerplateScrubCdcFromParts(docs: DataFrame,
      chunks: DataFrame, minDf: Int): DataFrame = {
    val hot = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ddf"))
      .filter(col("ddf") >= minDf)
      .select(col("h"))
    // r21: same one-pass mark-and-aggregate as the aligned form — see
    // [[boilerplateScrubFromDocs]]. Kept byte slices still concatenate
    // in (chunk_idx, cb) order; all-hot docs fold the empty list to ""
    // exactly as the old anti-join dropout did.
    val marked = chunks.join(
      broadcast(hot.withColumn("__hot", lit(true))), Seq("h"), "left_outer")
    val perDoc = marked.groupBy(col("doc_id")).agg(
      sum(when(col("__hot"), 1L).otherwise(0L)).as("n_dropped"),
      aggregate(
        array_sort(collect_list(when(col("__hot").isNull,
          struct(col("chunk_idx"), col("cb"))))),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x.getField("cb")))
        .cast("string").as("clean_text"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** DuckDB oracle for [[boilerplateScrubCdc]], riding
    * [[cdcChunksSql]]'s boundary replay: chunk text re-sliced from the
    * replayed offsets, hot set by distinct-doc df, survivors
    * concatenated in chunk order (ASCII corpus ⇒ the engine's
    * byte-slice concat equals the char-substr concat). */
  def boilerplateScrubCdcSql(minDf: Int = 3): String =
    s"""WITH c AS (${cdcChunksSql()}),
       |ck AS (
       |  SELECT c.doc_id, c.chunk_idx,
       |    substr(d.text, c.off + 1, c.len) AS cb, c.chunk_md5 AS h
       |  FROM c JOIN documents d USING (doc_id)),
       |hot AS (SELECT h FROM ck GROUP BY h
       |        HAVING count(DISTINCT doc_id) >= ${minDf}),
       |fl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped
       |       FROM ck JOIN hot USING (h) GROUP BY doc_id),
       |kp AS (SELECT doc_id,
       |         string_agg(cb, '' ORDER BY chunk_idx) AS clean_text
       |       FROM ck WHERE h NOT IN (SELECT h FROM hot)
       |       GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(kp.clean_text, '') AS clean_text,
       |  CAST(coalesce(fl.n_dropped, 0) AS BIGINT) AS n_dropped
       |FROM documents d
       |LEFT JOIN kp ON kp.doc_id = d.doc_id
       |LEFT JOIN fl ON fl.doc_id = d.doc_id""".stripMargin

  /** Sequence packing: assign documents to fixed token-budget bins (the
    * training-batch packing step) by prefix-sum over a deterministic
    * order — bin = (tokens before me) div budget, the standard
    * streaming-pack approximation of bin packing. Packing is per
    * `source` shard: a corpus-global prefix sum would serialize into
    * one partition, while per-shard packing keeps the window shuffle
    * keyed and parallel (shards are independent training streams
    * anyway). Integer division keeps both engines bit-identical. */
  def packBins(spark: SparkSession, dir: String, binTokens: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(cum - n_tokens) div ${binTokens}L").as("bin_id"))
  }

  def packBinsSql(binTokens: Int = 512): String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len(${tokensSql}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM t)
       |SELECT doc_id, source, n_tokens,
       |  CAST((cum - n_tokens) // $binTokens AS BIGINT) AS bin_id
       |FROM c""".stripMargin

  /** Per-document top-k terms by rarity-weighted frequency (the tf-idf
    * shape with score = tf/df — an exact rational, so ranking and the
    * rounded score are bit-identical across engines; ln-based idf would
    * hinge on libm ulps). One explode pass: document frequency derives
    * from the (doc, term) aggregate rather than a second scan.
    *
    * Scale: explode → one shuffle to (doc_id, term) counts; df is a
    * term-level rollup of that aggregate (vocabulary ≪ corpus, so the
    * join back is broadcast-able); the final top-k window shuffles on
    * doc_id. No corpus-sized intermediate is ever materialized twice. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted via Caches: the df rollup below re-derives from tf, and
    // Spark does not reuse identical aggregation subplans — without the
    // cache the corpus would be exploded and aggregated twice
    val tf = graft.Caches.memo(spark, s"tfidf_tf:$dir") {
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        // cache partitioned by doc_id (AFTER the agg, so the map-side
        // combine still shrinks the explode shuffle): the top-k window
        // below requires only doc_id clustering, so it rides the cached
        // partitioning with no exchange of its own — the agg's
        // (doc_id, term) hash satisfies the agg but not the window;
        // explicit count — a bare repartition(col) is AQE-coalescible
        // and a byte-small cached frame would collapse to 1 partition
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    }
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    tf.join(broadcast(df), "term")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") / col("df"), 6).as("score"))
  }

  def tfidfTopTermsSql(k: Int = 5): String =
    s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |j AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |        row_number() OVER (PARTITION BY tf.doc_id
       |          ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rn
       |      FROM tf JOIN df ON tf.term = df.term)
       |SELECT doc_id, term, tf, df, round(CAST(tf AS DOUBLE) / df, 6) AS score
       |FROM j WHERE rn <= $k""".stripMargin

  /** Adjacent bigrams of a token array: zip each token with its
    * successor — a zero-shuffle array expression, no explode until the
    * consumer asks for rows. The slice length is clamped at 0 because
    * Spark's slice THROWS on a negative length — a single empty/
    * whitespace-only document (0 tokens ⇒ size−1 = −1) would crash the
    * whole query, where the DuckDB oracle's toks[1:len−1] just returns
    * empty. */
  private def bigrams(toks: Column): Column = {
    val len = greatest(size(toks) - 1, lit(0))
    zip_with(
      slice(toks, lit(1), len),
      slice(toks, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
  }

  /** NFC-normalized corpus text with a changed flag — the very first
    * pass of the curation pipeline (composed vs decomposed codepoints
    * silently fracture every downstream hash equality: exact-dedup
    * md5s, shingles, stopword matches). The native codegen'd
    * [[graft.functions.UnicodeNormalize]] fast-paths already-normalized
    * (e.g. pure-ASCII) rows with zero allocations; zero-shuffle scan
    * projection. NFC semantics are byte-identical to the DuckDB
    * oracle's `nfc_normalize`; NFKC (compatibility folding, the
    * tokenizer-training choice) is the same expression with
    * `form = "NFKC"`, spec-gated on crafted strings. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.UnicodeNormalize.unicode_normalize
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        unicode_normalize(col("text")).as("text_nfc"),
        (unicode_normalize(col("text")) =!= col("text")).cast("int")
          .as("changed"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id, nfc_normalize(text) AS text_nfc,
      |  CAST(nfc_normalize(text) <> text AS INT) AS changed
      |FROM documents""".stripMargin

  /** Corpus-wide top-k bigrams (the n-gram statistics pass every
    * pre-training corpus gets: contamination screens, boilerplate
    * detection, tokenizer health checks).
    *
    * Scale: bigram construction is a narrow per-row array op; the
    * explode feeds a hash aggregate with map-side partial combine, so
    * the shuffle carries (distinct bigram, partial count), not corpus
    * positions; the final top-k is TakeOrdered on the aggregated
    * (vocabulary²-bounded) set — no global sort. (count DESC, bigram)
    * makes the cut deterministic. */
  def bigramTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(bigrams(tokens(col("text")))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(k)

  def bigramTopKSql(k: Int = 100): String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |b AS (SELECT unnest(list_transform(
       |        list_zip(toks[1:len(toks)-1], toks[2:]),
       |        x -> x[1] || ' ' || x[2])) AS bigram
       |      FROM t)
       |SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
       |FROM b GROUP BY bigram
       |ORDER BY cnt DESC, bigram LIMIT $k""".stripMargin

  /** Top collocations by pointwise mutual information:
    * PMI(a,b) = ln(p(ab) / (p(a)p(b))) over the corpus bigram/unigram
    * distributions, minimum bigram count `minCount` (raw PMI promotes
    * hapax pairs — the count floor is the standard Church & Hanks '90
    * hygiene). The phrase-mining/collocation pass of a tokenizer or
    * quality pipeline: high-PMI pairs are multiword units ("los
    * angeles"), near-zero pairs are chance co-occurrence.
    *
    * Scale: two map-side-combinable count aggregates (unigram, bigram
    * — both vocabulary-bounded after combine), two shuffle joins of the
    * candidate bigrams against the unigram counts on the split words
    * (vocab-sized, NOT broadcast — a 100 TB corpus vocabulary does not
    * fit an executor), two 1-row total broadcasts, TakeOrdered(k). The
    * PMI itself is a per-row scalar over exact counts — no cross-row
    * float reduction, so the oracle hashes without any decimal
    * scaffolding. */
  def pmiTopK(spark: SparkSession, dir: String, k: Int = 50,
      minCount: Long = 3L): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    // ONE tokenize+explode pass feeds BOTH distributions (r21): the
    // unigram and bigram subtrees each scanned+tokenized the corpus
    // (AQE exchange reuse covers a subtree's multiple consumers but
    // not two differently-shaped subtrees), so the corpus was
    // tokenized twice per run. Unigrams and their adjacent bigrams now
    // explode out of the SAME tokens array into one aggregate; the
    // split back is exact — a bigram always contains its joining
    // space, a whitespace-split token never does. Counts, and hence
    // every PMI value, are bit-identical to the two-pass form.
    val grams = docs
      .select(tokens(col("text")).as("toks"))
      .select(explode(concat(col("toks"), bigrams(col("toks")))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val uni = grams.filter(!col("g").contains(" "))
      .select(col("g").as("term"), col("c").as("c1"))
    val nUni = uni.agg(sum(col("c1")).as("n_uni")) // 1 row
    val bi = grams.filter(col("g").contains(" "))
      .select(col("g").as("big"), col("c").as("c2"))
    val nBi = bi.agg(sum(col("c2")).as("n_bi")) // 1 row
    bi.filter(col("c2") >= minCount)
      .withColumn("w1", substring_index(col("big"), " ", 1))
      .withColumn("w2", substring_index(col("big"), " ", -1))
      .join(uni.select(col("term").as("w1"), col("c1").as("ca")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("c1").as("cb")), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("pmi", round(
        log((col("c2").cast("double") / col("n_bi")) /
          ((col("ca").cast("double") / col("n_uni")) *
            (col("cb").cast("double") / col("n_uni")))), 6))
      .select(col("big").as("bigram"), col("c2").as("cnt"),
        col("ca"), col("cb"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  def pmiTopKSql(k: Int = 50, minCount: Long = 3L): String =
    s"""WITH t AS (SELECT ${tokensSql} AS toks FROM documents),
       |u AS (SELECT unnest(toks) AS term FROM t),
       |uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
       |nu AS (SELECT CAST(sum(c1) AS BIGINT) AS n_uni FROM uc),
       |b AS (SELECT unnest(list_transform(
       |        list_zip(toks[1:len(toks)-1], toks[2:]),
       |        x -> x[1] || ' ' || x[2])) AS big FROM t),
       |bc AS (SELECT big, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1),
       |nb AS (SELECT CAST(sum(c2) AS BIGINT) AS n_bi FROM bc),
       |c AS (SELECT big, c2, split_part(big, ' ', 1) AS w1,
       |        split_part(big, ' ', 2) AS w2
       |      FROM bc WHERE c2 >= $minCount),
       |j AS (SELECT c.big, c.c2, a.c1 AS ca, d.c1 AS cb
       |      FROM c JOIN uc a ON c.w1 = a.term JOIN uc d ON c.w2 = d.term),
       |s AS (SELECT big AS bigram, c2 AS cnt, ca, cb,
       |        round(ln((CAST(c2 AS DOUBLE) / n_bi) /
       |          ((CAST(ca AS DOUBLE) / n_uni) * (CAST(cb AS DOUBLE) / n_uni))), 6) AS pmi
       |      FROM j CROSS JOIN nu CROSS JOIN nb)
       |SELECT bigram, cnt, ca, cb, pmi
       |FROM s ORDER BY pmi DESC, bigram LIMIT $k""".stripMargin

  /** BPE merge-table TRAINING over the corpus
    * ([[graft.functions.BpeTokenCount.learnMerges]]): the corpus
    * collapses to its (word, freq) vocabulary in ONE aggregation —
    * Heaps'-law-bounded, orders smaller than the corpus — and the
    * iterative merge selection runs driver-side over that vocabulary
    * like every BPE trainer; the result is the ranked merge table
    * [[tokenCountBpe]]-style counting consumes ("swapping in learned
    * merges is a data change", made operational). Deterministic:
    * frequency ties break lexicographically. DuckDB-oracled since r15
    * by [[bpeMergesSql]] — the training loop LEARNED in SQL as 30
    * unrolled count→argmax→apply rounds, nothing embedded; FunctionsSpec
    * additionally verifies the learned sequence by hand on a crafted
    * vocabulary and pins determinism. Memoized per (dir, n): the vocab
    * collect is the
    * expensive pass and the table is the artifact.
    *
    * Driver-memory bound: the collect is capped at `maxVocab` entries
    * (TakeOrdered by frequency desc, word asc — a deterministic cut
    * even across frequency ties) after a `minFreq` floor, so driver
    * heap is ≤ maxVocab·(avg word bytes + 8) ≈ tens of MB at the
    * 2^20 default — NOT O(corpus vocabulary), which at web scale is
    * 10⁸-10⁹ noise entries (typos/URLs/numbers). Every production BPE
    * trainer applies the same bound; merges learned from the top-M
    * frequency mass are invariant to the tail cut on any realistic
    * corpus (a pair championed only by sub-minFreq words cannot win an
    * argmax over frequencies) — FunctionsSpec pins invariance of the
    * learned table under a non-binding cap at test scale and the
    * deterministic cut under a binding one. */
  def bpeMerges(spark: SparkSession, dir: String, nMerges: Int = 30,
      minFreq: Long = 1L, maxVocab: Int = 1 << 20): DataFrame =
    graft.Caches.memo(spark, s"bpeMerges:$dir:$nMerges:$minFreq:$maxVocab") {
      import spark.implicits._
      val vocab = Tables.fanOut(Tables.documents(spark, dir))
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .filter(col("f") >= minFreq)
        .orderBy(col("f").desc, col("w")) // TakeOrderedAndProject with limit
        .limit(maxVocab)
        .as[(String, Long)].collect().toSeq
      graft.functions.BpeTokenCount.learnMerges(vocab, nMerges)
        .zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "left", "right")
    }

  /** The counting side of the train → count loop: per-doc subword
    * counts under the merges [[bpeMerges]] just LEARNED from this
    * corpus, beside the fixed engine-table count for contrast. The
    * learned table reaches executors inside the
    * [[graft.functions.BpeTokenCountWith]] expression (a codegen
    * reference object — still one narrow scan, zero shuffle); corpus-
    * fitted merges compress corpus text harder than any fixed table,
    * which is exactly what a token-budgeting pass wants.
    * DuckDB-oracled since round 14 (the trained-constant recipe: the
    * deterministic learned table is embedded by the dynamic oracle
    * generator and [[tokenCountLearnedSql]] replays both merge loops);
    * FunctionsSpec additionally pins the count against an independent
    * reimplementation driven by the same learned table. */
  def tokenCountLearned(spark: SparkSession, dir: String,
      nMerges: Int = 30): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.BpeTokenCount
          .bpe_token_count_with(col("text"),
            learnedMergeTable(spark, dir, nMerges)).as("n_tokens_learned"),
        graft.functions.BpeTokenCount
          .bpe_token_count(col("text")).as("n_tokens_fixed"))

  /** The learned merge table as an ordered pair list — shared by the
    * [[tokenCountLearned]] builder and its dynamic oracle generator so
    * both embed the SAME table ([[bpeMerges]] is memoized per (dir,
    * nMerges), so this costs one collect per session). */
  def learnedMergeTable(spark: SparkSession, dir: String,
      nMerges: Int = 30): Seq[(String, String)] =
    bpeMerges(spark, dir, nMerges).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** DuckDB scaffold replaying [[graft.functions.BpeMergeCounter]]'s
    * merge loop EXACTLY over a shared `words(w)` CTE of distinct
    * lowercased letter runs: a recursive CTE iterates best-ranked-pair
    * merge rounds per word (each round merges ALL left-to-right
    * non-overlapping occurrences of the best pair — for a ≠ b
    * occurrences can't overlap, for a = b every other position within
    * each consecutive run merges, replayed with a run-parity filter),
    * and the final subword count is min(len(syms)) since every round
    * strictly shrinks the list. `nullif(list_position(…), 0)` is
    * load-bearing: DuckDB's list_position returns 0, not NULL, for a
    * missing pair, which would otherwise read as the BEST rank. Emits
    * `bpe_$sfx` / `wcount_$sfx` CTE text (appended inside a WITH
    * RECURSIVE). */
  /** Shared APPLY-step SQL — one round of merging ALL left-to-right
    * non-overlapping occurrences of the pair (a, b) in `syms`: for
    * a ≠ b occurrences can't overlap; for a = b every other position
    * within each consecutive run merges (the run-parity filter over
    * `gaps0`, the run-start sentinels). The trickiest SQL in this file,
    * emitted from ONE place so the trainer oracle ([[bpeMergesSql]])
    * and the counter oracles ([[bpeCountSqlCtes]]) can never drift
    * apart. `inner` must provide columns (syms, a, b) plus the
    * comma-separated `carry` columns; emits a full SELECT producing
    * carry + the merged `syms`. */
  private def mergeApplySql(inner: String, carry: String): String =
    s"""SELECT $carry,
       |    flatten(list_transform(list_transform(range(len(syms)), i -> CAST(i + 1 AS INT)), i ->
       |      CASE WHEN list_contains(sel, i) THEN [a || b]
       |           WHEN list_contains(sel, i - 1) THEN []
       |           ELSE [syms[i]] END)) AS syms
       |  FROM (
       |    SELECT $carry, syms, a, b,
       |      CASE WHEN a != b THEN occ
       |           ELSE list_filter(occ, i -> (i - (coalesce(list_max(list_filter(gaps0, g -> g < i)), 0) + 1)) % 2 = 0)
       |      END AS sel
       |    FROM (
       |      SELECT $carry, syms, a, b,
       |        list_filter(list_transform(range(len(syms) - 1), i -> CAST(i + 1 AS INT)),
       |          i -> syms[i] = a AND syms[i + 1] = b) AS occ,
       |        list_prepend(CAST(0 AS INT),
       |          list_filter(list_transform(range(len(syms) - 1), i -> CAST(i + 1 AS INT)),
       |            i -> NOT (syms[i] = a AND syms[i + 1] = b))) AS gaps0
       |      FROM $inner))""".stripMargin

  private def bpeCountSqlCtes(merges: Seq[(String, String)],
      sfx: String): String = {
    def esc(s: String) = s.replace("'", "''")
    if (merges.isEmpty)
      // no merges learnable: every word stays at its character count
      return s"""wcount_$sfx AS (SELECT w, CAST(len(w) AS BIGINT) AS cnt FROM words)"""
    val mlit = merges.map { case (a, b) => s"'${esc(a)} ${esc(b)}'" }
      .mkString("[", ", ", "]")
    val bestPair = s"""(
       |        SELECT w, syms, syms[bestIdx] AS a, syms[bestIdx + 1] AS b
       |        FROM (
       |          SELECT w, syms, CAST(list_position(ranks, bestRank) AS INT) AS bestIdx
       |          FROM (
       |            SELECT w, syms, ranks,
       |              list_min(list_filter(ranks, r -> r IS NOT NULL)) AS bestRank
       |            FROM (
       |              SELECT w, syms,
       |                list_transform(list_transform(range(len(syms) - 1), i -> CAST(i+1 AS INT)),
       |                  i -> nullif(list_position($mlit, syms[i] || ' ' || syms[i + 1]), 0)) AS ranks
       |              FROM bpe_$sfx) )
       |          WHERE bestRank IS NOT NULL) )""".stripMargin
    s"""bpe_$sfx AS (
       |  SELECT w, list_transform(range(len(w)), i -> w[CAST(i+1 AS INT)]) AS syms
       |  FROM words
       |  UNION ALL
       |  ${mergeApplySql(bestPair, "w")}
       |),
       |wcount_$sfx AS (
       |  SELECT w, CAST(min(len(syms)) AS BIGINT) AS cnt FROM bpe_$sfx GROUP BY w)""".stripMargin
  }

  /** Shared pre-tokenizer CTEs: `words` (distinct lowercased letter
    * runs — Character.isLetter runs lowercase to exactly [a-z]+ of
    * lower(text) on this ASCII corpus), `dw` (per-doc word instances),
    * `other` (per-doc count of non-letter, non-whitespace characters —
    * each is one token; RE2's \\s is [\\t\\n\\f\\r ], Java's
    * isWhitespace additionally accepts \\x0B and \\x1C-\\x1F, none of
    * which the corpus contains). */
  private val bpePreTokSqlCtes: String =
    """words AS (
      |  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |dw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |other AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_replace(text, '[a-zA-Z\s]', '', 'g')) AS BIGINT) AS o
      |  FROM documents)""".stripMargin

  /** DuckDB oracle for [[tokenCountBpe]] — the engine-owned static
    * merge table embedded as literals, the merge loop replayed by
    * [[bpeCountSqlCtes]]. */
  def tokenCountBpeSql(): String =
    s"""WITH RECURSIVE
       |$bpePreTokSqlCtes,
       |${bpeCountSqlCtes(graft.functions.BpeTokenCount.merges, "f")},
       |lt AS (
       |  SELECT dw.doc_id, SUM(wc.cnt) AS letter_toks
       |  FROM dw JOIN wcount_f wc USING (w) GROUP BY dw.doc_id)
       |SELECT d.doc_id,
       |  CAST(len(${tokensSql}) AS BIGINT) AS ws_tokens,
       |  CAST(coalesce(lt.letter_toks, 0) + o.o AS BIGINT) AS bpe_tokens,
       |  d.n_chars,
       |  CASE WHEN coalesce(lt.letter_toks, 0) + o.o > 0
       |    THEN floor(d.n_chars * 1000000 / (coalesce(lt.letter_toks, 0) + o.o)) / 1000000.0
       |    ELSE 0.0 END AS chars_per_token
       |FROM documents d
       |JOIN other o USING (doc_id)
       |LEFT JOIN lt USING (doc_id)""".stripMargin

  /** DuckDB oracle for [[bpeMerges]] — the TRAINING loop learned
    * INSIDE DuckDB, nothing embedded: the corpus collapses to its
    * (word, freq) whitespace-token vocabulary, and each of the
    * `nMerges` rounds is an unrolled CTE trio — overlapping adjacent
    * pair counts weighted by word frequency (the engine counts every
    * position, `learnMerges`' update loop), argmax with the engine's
    * (count DESC, a, b) tie-break, then the same left-to-right
    * non-overlapping APPLY step [[bpeCountSqlCtes]] replays (run-parity
    * filter for the a = b case). Unrolling the fixed-round loop as
    * chained CTEs sidesteps the recursive-CTE restriction on
    * aggregating the working table (the argmax is corpus-wide); 30
    * rounds over a Heaps'-bounded vocabulary is well inside DuckDB's
    * planner budget — same family as the CDC replays. An exhausted
    * vocabulary (no adjacent pair left) leaves b{r} empty, and every
    * later round's cross join is then empty — exactly the engine's
    * early stop. The registered defaults' minFreq=1 / maxVocab=2^20
    * cut is non-binding at oracle scale (the suite's ASCII-corpus
    * tripwire pins the assumption family). */
  def bpeMergesSql(nMerges: Int = 30): String = {
    val rounds = (1 to nMerges).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT f, syms,
         |          unnest(list_transform(range(len(syms) - 1), x -> CAST(x + 1 AS INT))) AS i
         |        FROM $prev)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |m$r AS (SELECT $r AS "rank", a AS "left", b AS "right" FROM b$r),
         |s$r AS MATERIALIZED (
         |  ${mergeApplySql(s"$prev CROSS JOIN b$r", "w, f")})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to nMerges).map(r => s"SELECT * FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH v AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents)
       |  GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w, f,
       |    list_transform(range(len(w)), i -> w[CAST(i + 1 AS INT)]) AS syms
       |  FROM v),
       |$rounds
       |$unions""".stripMargin
  }

  /** DuckDB oracle for [[tokenCountLearned]]: TWO merge tables — the
    * corpus-learned one (driver-computed, deterministic, embedded by
    * the dynamic-oracle generator) and the fixed engine table — each
    * replayed by its own recursive CTE over the shared vocabulary. */
  def tokenCountLearnedSql(learned: Seq[(String, String)]): String =
    s"""WITH RECURSIVE
       |$bpePreTokSqlCtes,
       |${bpeCountSqlCtes(learned, "l")},
       |${bpeCountSqlCtes(graft.functions.BpeTokenCount.merges, "f")},
       |lt_l AS (
       |  SELECT dw.doc_id, SUM(wc.cnt) AS s
       |  FROM dw JOIN wcount_l wc USING (w) GROUP BY dw.doc_id),
       |lt_f AS (
       |  SELECT dw.doc_id, SUM(wc.cnt) AS s
       |  FROM dw JOIN wcount_f wc USING (w) GROUP BY dw.doc_id)
       |SELECT o.doc_id,
       |  CAST(coalesce(l.s, 0) + o.o AS BIGINT) AS n_tokens_learned,
       |  CAST(coalesce(f.s, 0) + o.o AS BIGINT) AS n_tokens_fixed
       |FROM other o
       |LEFT JOIN lt_l l USING (doc_id)
       |LEFT JOIN lt_f f USING (doc_id)""".stripMargin

  /** Content-defined chunking over the documents table: Gear-hash
    * boundaries from the native [[graft.functions.CdcBoundaries]]
    * expression, chunk bytes sliced out of the BINARY cast (boundaries
    * are byte offsets; character substring would shear on multibyte
    * text), each chunk identified by its md5 for chunk-level dedup
    * joins. Unlike [[docChunks]]'s fixed token windows, an insertion
    * disturbs only the chunk it lands in — every later chunk hash
    * survives, so cross-document chunk dedup keeps matching
    * (FunctionsSpec pins that law). Zero-shuffle narrow pass: the
    * boundary scan, the zip to (off,len) pairs, the explode, and the
    * md5 all ride the document scan. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksFromDocs(Tables.documents(spark, dir))

  def cdcChunksFromDocs(docs: DataFrame): DataFrame = {
    val b = docs.select(col("doc_id"), col("text").cast("binary").as("tb"),
      graft.functions.CdcBoundaries.cdc_boundaries(col("text")).as("bnds"))
    b.select(col("doc_id"), col("tb"),
        posexplode(zip_with(
          slice(col("bnds"), lit(1), greatest(size(col("bnds")) - 1, lit(0))),
          slice(col("bnds"), lit(2), greatest(size(col("bnds")) - 1, lit(0))),
          (a, z) => struct(a.as("off"), (z - a).as("len")))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        col("col.off").as("off"), col("col.len").as("len"),
        md5(expr("substring(tb, col.off + 1, col.len)")).as("chunk_md5"))
  }

  /** CTE block replaying [[cdcChunks]]' boundary offsets as
    * `cuts(doc_id, off, n)` rows — the shared scaffold of the CDC
    * oracles. SQL-expressible despite the RESETTING gear hash because
    * of two closed-form reductions:
    *
    *  - the boundary predicate masks the hash to its low `avgBits`
    *    bits, and `2^t mod 2^avgBits = 0` for `t ≥ avgBits` — so the
    *    masked value at byte i depends ONLY on the last `avgBits`
    *    bytes, and (since `minLen ≥ avgBits` keeps every candidate cut
    *    at least a full window past the previous cut, where the reset
    *    has rolled out of the low bits) the predicate is a LOCAL
    *    per-position test, independent of earlier cut placement;
    *  - given that per-position zero set, the sequential scan collapses
    *    to "next cut = the first zero position ≥ last+minLen, capped at
    *    last+maxLen" — a recursive CTE over cut offsets (≤ n/minLen
    *    steps), not over bytes.
    *
    * The gear table's low-`avgBits` residues embed as one literal list
    * (mod-2^avgBits arithmetic commutes with the residue map). ASCII
    * corpus ⇒ char positions == byte offsets and `ord` == byte value —
    * the [[fingerprintCtesSql]] precondition. */
  def cdcCutsCtesSql(avgBits: Int = 6, minLen: Int = 16,
      maxLen: Int = 256): String = {
    require(minLen > avgBits,
      "cdc oracle: the local-zero reduction needs minLen > avgBits (a " +
        "candidate cut must sit a full hash window past the reset)")
    val mod = 1L << avgBits
    val glist = graft.functions.CdcBoundaries.gear
      .map(g => g & (mod - 1)).mkString("[", ", ", "]")
    val zeroSum = (0 until avgBits).map { t =>
      if (t == 0) "gc" else s"${1L << t} * lag(gc, ${t}, 0) OVER w"
    }.mkString(" + ")
    s"""dl AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
       |        FROM documents),
       |gp AS (
       |  SELECT doc_id, CAST(unnest(range(1, n + 1)) AS BIGINT) AS o
       |  FROM dl),
       |gc AS (
       |  SELECT gp.doc_id, gp.o,
       |    (${glist})[ord(substr(d.text, CAST(gp.o AS INT), 1)) + 1] AS gc
       |  FROM gp JOIN dl d USING (doc_id)),
       |z AS (
       |  SELECT doc_id, o,
       |    ((${zeroSum}) % ${mod} = 0 AND o >= ${avgBits}) AS is_zero
       |  FROM gc WINDOW w AS (PARTITION BY doc_id ORDER BY o)),
       |nz AS (
       |  SELECT doc_id, o,
       |    min(CASE WHEN is_zero THEN o END) OVER (
       |      PARTITION BY doc_id ORDER BY o DESC) AS nxz
       |  FROM z),
       |cuts AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS off, n FROM dl
       |  UNION ALL
       |  SELECT doc_id, nxt AS off, n FROM (
       |    SELECT c.doc_id,
       |      least(coalesce(z.nxz, c.off + ${maxLen}), c.off + ${maxLen}) AS nxt,
       |      c.n
       |    FROM cuts c LEFT JOIN nz z
       |      ON z.doc_id = c.doc_id AND z.o = c.off + ${minLen})
       |  WHERE nxt <= n)""".stripMargin
  }

  /** DuckDB oracle for [[cdcChunks]]: consecutive boundary pairs from
    * the replayed cut set (plus the final offset n), md5 over the same
    * chunk bytes. */
  def cdcChunksSql(avgBits: Int = 6, minLen: Int = 16,
      maxLen: Int = 256): String =
    s"""WITH RECURSIVE ${cdcCutsCtesSql(avgBits, minLen, maxLen)},
       |b AS (SELECT DISTINCT doc_id, off FROM (
       |        SELECT doc_id, off FROM cuts
       |        UNION ALL SELECT doc_id, n AS off FROM dl)),
       |ch AS (
       |  SELECT doc_id, off,
       |    lead(off) OVER (PARTITION BY doc_id ORDER BY off) AS nxt,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
       |      AS INT) AS chunk_idx
       |  FROM b)
       |SELECT ch.doc_id, ch.chunk_idx, CAST(ch.off AS INT) AS off,
       |  CAST(ch.nxt - ch.off AS INT) AS len,
       |  md5(substr(d.text, CAST(ch.off + 1 AS INT), CAST(ch.nxt - ch.off AS INT)))
       |    AS chunk_md5
       |FROM ch JOIN dl d USING (doc_id) WHERE ch.nxt IS NOT NULL""".stripMargin

  /** Bigram language-model quality score — the perplexity filter every
    * web-scale corpus runs (CCNet, Wenzek et al. LREC 2020, scores
    * documents with a KenLM n-gram model and drops the worst tail; the
    * add-α-smoothed bigram form is the self-contained engine-owned
    * version, trained on the corpus itself in the same job): each
    * document's score is the mean log-probability of its token bigrams,
    * ln((c(w1,w2)+α) / (c(w1)+α·V)). Low score = improbable token
    * transitions = boilerplate/garbled/machine-generated text.
    *
    * Scale: the model IS two aggregates — unigram and bigram counts,
    * vocabulary-sized, broadcast back over the corpus stream (at web
    * scale a frequency floor keeps the bigram table broadcastable; the
    * join degrades gracefully to a shuffle join if not). The corpus
    * explodes once into the posting stream that feeds BOTH the counts
    * and the scoring join.
    *
    * Determinism across engines: the per-bigram log terms round to 9
    * decimals and sum as DECIMAL — decimal addition is exact and
    * associative, so Spark's partial aggregates and DuckDB's single
    * thread reach the identical sum no matter the order; only the final
    * mean divides in double. This is the general recipe for
    * hash-matching a floating-point SUM across engines. */
  def lmScore(spark: SparkSession, dir: String, alpha: Double = 0.1): DataFrame =
    // memoKey: the unigram/bigram model tables are vocabulary-sized and
    // feed THREE consumers (bi counts, the scoring join, the V scalar);
    // without persistence each consumer re-scans the corpus — 4 scans
    // where 3 suffice (ExplainAudit round 8), and the model is exactly
    // the thing worth keeping hot across queries
    lmScoreInternal(Tables.fanOut(Tables.documents(spark, dir)), alpha,
      Some(s"lmModel:$dir"))

  /** The scorer over an explicit (doc_id, text) relation — the testable
    * core of [[lmScore]] (no cross-test memo cache). */
  def lmScoreFromDocs(docs: DataFrame, alpha: Double): DataFrame =
    lmScoreInternal(docs, alpha, None)

  private def lmScoreInternal(docs: DataFrame, alpha: Double,
      memoKey: Option[String]): DataFrame = {
    val spark = docs.sparkSession
    def memo(part: String)(build: => DataFrame): DataFrame = memoKey match {
      case Some(k) => graft.Caches.memo(spark, s"$k:$part")(build)
      case None => build
    }
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val big = base
      .select(col("doc_id"), explode(bigrams(col("toks"))).as("big"))
      .withColumn("w1", substring_index(col("big"), " ", 1))
    val uni = memo("uni") {
      base.select(explode(col("toks")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    }
    val bi = memo("bi") { big.groupBy(col("big")).agg(count(lit(1)).as("c2")) }
    val vocab = uni.agg(count(lit(1)).as("v")) // 1 row (PlanGuardrailSpec-pinned)
    big
      .join(broadcast(bi), Seq("big"))
      .join(broadcast(uni), col("w1") === col("term"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", round(
        log((col("c2") + lit(alpha)) / (col("c1") + lit(alpha) * col("v"))), 9))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("slp").cast("double") / col("n_bigrams"), 6).as("lm_score"))
  }

  /** The bigram-LM model tables trained on a REFERENCE corpus:
    * (unigram counts, bigram counts). Feed them to [[lmScoreUnderModel]]
    * to score a DIFFERENT corpus — the CCNet shape (score crawl text
    * under an LM trained on trusted text) that [[lmScore]]'s
    * self-trained form can't express. Both tables are vocabulary-sized
    * (broadcastable); the reference is scanned once per table. */
  def lmModelTables(ref: DataFrame): (DataFrame, DataFrame) = {
    val base = ref.select(tokens(col("text")).as("toks"))
    val uni = base.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val bi = base.select(explode(bigrams(col("toks"))).as("big"))
      .groupBy(col("big")).agg(count(lit(1)).as("c2"))
    (uni, bi)
  }

  /** Score (doc_id, text) docs under a FIXED reference model from
    * [[lmModelTables]]. Identical per-bigram formula to [[lmScore]],
    * but the joins are LEFT joins with 0-count backoff: a gram the
    * reference never saw still scores (its probability falls to
    * α/(c1+αV) — exactly what add-α smoothing assigns unseen events),
    * rather than silently vanishing from the doc's mean as an inner
    * join would make it. Docs with no bigram at all (< 2 tokens) keep a
    * row with n_bigrams = 0 and lm_score = 0.0, so a gate on the score
    * never silently drops short docs — the length rules own that call.
    *
    * Scale: model tables broadcast; the corpus explodes once; the
    * aggregation is the same decimal-exact sum as [[lmScore]]. */
  def lmScoreUnderModel(docs: DataFrame, uni: DataFrame, bi: DataFrame,
      alpha: Double = 0.1): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val big = base
      .select(col("doc_id"), explode(bigrams(col("toks"))).as("big"))
      .withColumn("w1", substring_index(col("big"), " ", 1))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val scored = big
      .join(broadcast(bi), Seq("big"), "left_outer")
      .join(broadcast(uni), col("w1") === col("term"), "left_outer")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", round(
        log((coalesce(col("c2"), lit(0L)) + lit(alpha)) /
          (coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v"))), 9))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("slp").cast("double") / col("n_bigrams"), 6).as("lm_score"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  def lmScoreSql(alpha: Double = 0.1): String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |b AS (SELECT doc_id, unnest(list_transform(
       |        list_zip(toks[1:len(toks)-1], toks[2:]),
       |        x -> x[1] || ' ' || x[2])) AS big
       |      FROM t),
       |bw AS (SELECT doc_id, big, split_part(big, ' ', 1) AS w1 FROM b),
       |u AS (SELECT unnest(toks) AS term FROM t),
       |uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
       |bc AS (SELECT big, CAST(count(*) AS BIGINT) AS c2 FROM bw GROUP BY 1),
       |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(CAST(sum(CAST(round(ln((c2 + $alpha) / (c1 + $alpha * v)), 9)
       |        AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS lm_score
       |FROM bw
       |JOIN bc USING (big)
       |JOIN uc ON bw.w1 = uc.term
       |CROSS JOIN v
       |GROUP BY doc_id""".stripMargin

  /** Per-document repetition metrics (adjacent-duplicate token runs —
    * the degenerate-text signal quality filters cut on: "batch batch
    * batch" inflates perplexity-free repetition). Zero-shuffle narrow
    * pass: the adjacent-pair comparison is an array zip inside codegen,
    * never an explode. repeat_ratio divides exact integer counts in
    * double (bit-identical across engines); single-token docs guard the
    * 0/0 case to 0.0. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("repeat_count",
        // greatest(·, 0): slice throws on negative length for 0-token docs
        size(filter(
          zip_with(
            slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
            slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
            (a, b) => a === b),
          x => x)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("repeat_count"),
        when(col("n_tokens") > 1,
          round(col("repeat_count").cast("double") / (col("n_tokens") - 1), 6))
          .otherwise(0.0).as("repeat_ratio"))

  val repetitionStatsSql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |r AS (SELECT doc_id,
       |        CAST(len(toks) AS BIGINT) AS n_tokens,
       |        CAST(len(list_filter(
       |          list_zip(toks[1:len(toks)-1], toks[2:]),
       |          x -> x[1] = x[2])) AS BIGINT) AS repeat_count
       |      FROM t)
       |SELECT doc_id, n_tokens, repeat_count,
       |  CASE WHEN n_tokens > 1
       |    THEN round(CAST(repeat_count AS DOUBLE) / (n_tokens - 1), 6)
       |    ELSE 0.0 END AS repeat_ratio
       |FROM r""".stripMargin

  /** Corpus composition by (source, lang) — the mix dashboard every
    * training-data curation loop watches: document/token/char counts
    * plus how many docs clear the quality bar. All aggregates are exact
    * integers (doubles never sum across rows — partial-aggregation
    * order would make that engine-dependent); the per-doc quality score
    * is computed then only COMPARED, and mean tokens/doc divides exact
    * ints. One shuffle on the (source, lang) grain. */
  def corpusMix(spark: SparkSession, dir: String,
      qualityBar: Double = 0.5): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("word_count", size(col("toks")).cast("long"))
      .withColumn("stop_count",
        size(filter(col("toks"), t => t.isInCollection(stopwords))).cast("long"))
      .withColumn("quality_score",
        least(col("word_count").cast("double") / lit(50.0), lit(1.0)) * 0.5
          + (col("stop_count").cast("double") / col("word_count")) * 0.5)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("word_count")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("quality_score") >= qualityBar, 1L).otherwise(0L))
          .as("n_quality"))
      // raw division (no round): exact-int division is IEEE-identical in
      // both engines, while round(x, 6) can land on a half (n_docs a
      // multiple of 128 ⇒ 7-digit terminating quotient) where Spark
      // HALF_UP and DuckDB half-even disagree
      .withColumn("tokens_per_doc",
        col("n_tokens").cast("double") / col("n_docs"))

  def corpusMixSql(qualityBar: Double = 0.5): String =
    s"""WITH t AS (SELECT source, lang, n_chars, ${tokensSql} AS toks FROM documents),
       |c AS (SELECT source, lang, n_chars,
       |        CAST(len(toks) AS BIGINT) AS word_count,
       |        CAST(len(list_filter(toks, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")})))
       |          AS BIGINT) AS stop_count
       |      FROM t),
       |q AS (SELECT source, lang, n_chars, word_count,
       |        least(CAST(word_count AS DOUBLE) / 50.0, 1.0) * 0.5
       |          + (CAST(stop_count AS DOUBLE) / word_count) * 0.5 AS quality_score
       |      FROM c)
       |SELECT source, lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(word_count) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(CASE WHEN quality_score >= $qualityBar THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(CAST(sum(word_count) AS BIGINT) AS DOUBLE) / count(*) AS tokens_per_doc
       |FROM q GROUP BY source, lang""".stripMargin

  /** Per-document unigram entropy + type-token ratio — the lexical-
    * diversity screen (low entropy ⇒ repetitive machine junk even when
    * no adjacent tokens repeat, the case [[repetitionStats]] misses;
    * freakishly high TTR ⇒ word-salad/spam). Shannon entropy over the
    * document's own token distribution, −Σ (c/n)·ln(c/n).
    *
    * Determinism: per-term contributions quantize to exact BIGINTs
    * (`floor(x·1e9)` — the [[graft.llm.Vectors.embCentroids]] trick),
    * so the within-document fold is order-independent and the DuckDB
    * oracle bit-identical; the raw `ent_e9` sum rides along so
    * downstream thresholds can stay in exact integers. Zero-shuffle
    * scan projection — counts come from array ops on the token list
    * (O(tokens·types) per doc; fine at prose document lengths — a
    * book-length corpus would switch to a sorted-run count, still
    * per-row). */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("dt", array_sort(array_distinct(col("toks"))))
    val cnts = transform(col("dt"), t =>
      size(filter(col("toks"), x => x === t)).cast("long"))
    def p(c: Column): Column = c.cast("double") / col("n")
    base
      .withColumn("ent_e9", aggregate(cnts, lit(0L), (acc, c) =>
        acc + floor(-p(c) * log(p(c)) * lit(1e9))))
      .select(col("doc_id"), col("n").as("n_tokens"),
        size(col("dt")).cast("long").as("n_types"), col("ent_e9"),
        // raw divisions over exact ints — IEEE-identical in both engines
        (col("ent_e9").cast("double") / lit(1e9)).as("entropy"),
        (size(col("dt")).cast("double") / col("n")).as("ttr"))
  }

  val tokenEntropySql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
       |        list_sort(list_distinct(toks)) AS dt
       |      FROM t WHERE len(toks) > 0),
       |e AS (SELECT doc_id, n, CAST(len(dt) AS BIGINT) AS n_types,
       |        CAST(list_sum(list_transform(dt, t2 ->
       |          CAST(floor(-(CAST(len(list_filter(toks, x -> x = t2)) AS DOUBLE) / n)
       |            * ln(CAST(len(list_filter(toks, x -> x = t2)) AS DOUBLE) / n)
       |            * 1000000000.0) AS BIGINT))) AS BIGINT) AS ent_e9
       |      FROM d)
       |SELECT doc_id, n AS n_tokens, n_types, ent_e9,
       |  CAST(ent_e9 AS DOUBLE) / 1000000000.0 AS entropy,
       |  CAST(n_types AS DOUBLE) / n AS ttr
       |FROM e""".stripMargin

  /** Per-source distribution drift: the Population Stability Index of
    * each source's unigram distribution against the corpus-wide one,
    * over the `topN` global terms (add-α smoothing so an absent term
    * contributes its smoothed mass instead of a log singularity).
    * PSI = Σ_t (p_s − p_g)·ln(p_s/p_g) — the standard production drift
    * monitor; sources whose language mix or boilerplate diverges from
    * the corpus surface with psi ≫ 0, the shape a mix dashboard alerts
    * on before a bad crawl batch pollutes training.
    *
    * Scale: ONE map-side-combinable shuffle on (source, term) for the
    * restricted counts (the topN semi-join bounds every posting);
    * the global top-N is a TakeOrdered reduction; the grid completion,
    * totals, and the PSI fold all run on |sources|·topN rows. The
    * per-term contributions round to 9 decimals and sum as
    * DECIMAL(28,9) (the [[lmScore]] trick), so the cross-row reduction
    * is order-independent and the DuckDB oracle hashes bit-for-bit. */
  def sourceDrift(spark: SparkSession, dir: String, topN: Int = 100,
      alpha: Double = 0.5): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val toks = docs.select(col("source"),
      explode(tokens(col("text"))).as("term"))
    // ONE corpus tokenize: count per (source, term) once, then derive
    // the global distribution as a rollup of the per-source counts —
    // the second full tokenize+explode pass a naive global/per-source
    // pair of aggregates would cost is gone (it dominates at corpus
    // scale). The perST aggregate subtree appears in two branches
    // below; the trees canonicalize identically, so AQE's stage cache
    // materializes the shuffle once and reuses it (runtime behavior —
    // the static explain still prints the duplicated subtree)
    val perST = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cs"))
    // r21: `top` is consumed THREE ways downstream (term-only broadcast,
    // grid broadcast, the tg scalar) and each consumption re-derived the
    // whole rollup subtree past the reused exchange — so it lands in the
    // SAME memo slot [[topTerms]] fills (the rollup of per-source counts
    // and the direct corpus aggregate produce bit-identical (term, cg)
    // rows under the same deterministic (cg DESC, term) cut), making the
    // 100-row frame free for whichever of source_drift/streaming_drift
    // runs second. The sources frame likewise rides [[sourcesDistinct]]
    // instead of paying a per-consumer corpus scan.
    val top = graft.Caches.memo(spark, s"topTerms:$dir:$topN") {
      perST.groupBy(col("term")).agg(sum(col("cs")).as("cg"))
        .orderBy(col("cg").desc, col("term")).limit(topN)
    }
    // r21: LOCALIZE the bounded tail. Everything past perST operates on
    // ≤ |sources|·topN rows (the bound psiOverTop already relies on to
    // broadcast the grid), yet the distributed formulation scheduled
    // ~10 jobs of broadcast builds and tiny exchanges per run. One
    // bounded collect — top (topN rows), sources, and the top-restricted
    // per-(source, term) counts, filtered by a STATIC IN over the topN
    // terms (the r20 probe-cell discipline) instead of a broadcast
    // semi-join — then the psi fold runs over LocalRelations with the
    // IDENTICAL Spark expressions on identical rows. The corpus-sized
    // work stays distributed (the perST shuffle); only the
    // sources-bounded tail moves driver-side, exactly the
    // [[Sampling.epochShuffle]] / tokenBudgetMix offsets discipline.
    val (topRows, perSrcRows, srcRows) = graft.Caches.memoObj[
        (Array[(String, Long)], Array[(String, String, Long)], Array[String])](
        spark, s"sourceDriftLocal:$dir:$topN") {
      val t = top.collect().map(r => (r.getString(0), r.getLong(1)))
      val termSet = t.map(_._1)
      val p = perST.filter(col("term").isin(termSet.toSeq: _*))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2))
      val s = sourcesDistinct(spark, dir).collect()
        .map(_.getString(0)).sorted
      // data-contract bounds made loud (the psiOverTop grid-broadcast
      // bound, now also a collect bound): top is LIMIT topN by
      // construction; the per-(source, term) tail is ≤ |sources|·topN
      // because every row's term passed the static IN over the topN cut.
      // A pathological source domain (|sources| ~ |docs|) must fail here
      // with the derivation, not as a driver OOM.
      require(s.length.toLong * topN <= 1000000L,
        s"sourceDrift localized tail bound |sources|*topN = " +
          s"${s.length}*$topN exceeds 1e6 — source domain too wide for " +
          "the driver-side PSI fold; keep the distributed formulation")
      require(p.length <= s.length.toLong * topN,
        s"sourceDrift per-(source,term) tail returned ${p.length} rows, " +
          s"over the |sources|*topN = ${s.length}*$topN bound")
      (t, p, s)
    }
    import spark.implicits._
    val topLocal = topRows.toSeq.toDF("term", "cg")
    val perSrcLocal = perSrcRows.toSeq.toDF("source", "term", "cs")
    val srcLocal = srcRows.toSeq.toDF("source")
    psiOverTop(perSrcLocal, topLocal, srcLocal, topN, alpha)
  }

  /** Distinct corpus sources — a |sources|-row frame (the grid axis of
    * the drift monitors). Memoized: every consumer otherwise pays a
    * full document scan + exchange for a handful of rows. */
  def sourcesDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"sourcesDistinct:$dir") {
      Tables.documents(spark, dir).select(col("source")).distinct()
    }

  /** The PSI fold shared by [[sourceDrift]] and the streaming form
    * ([[graft.streaming.StreamingDrift]]): complete the
    * (source × topN-term) grid, derive per-source totals, fold the
    * smoothed contributions as exact DECIMALs. All inputs are tiny
    * (topN rows / |sources|·topN rows) — the corpus-sized work happened
    * upstream in the count aggregation. */
  private[graft] def psiOverTop(perSrc: DataFrame, top: DataFrame,
      sources: DataFrame, topN: Int, alpha: Double): DataFrame = {
    val tg = top.agg(sum(col("cg")).as("tg")) // 1 row
    val grid = sources
      .crossJoin(broadcast(top)) // |sources|·topN rows, both sides tiny
      .join(perSrc, Seq("source", "term"), "left_outer")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
    val totals = grid.groupBy(col("source")).agg(sum(col("cs")).as("ts"))
    val ps = (col("cs").cast("double") + lit(alpha)) /
      (col("ts").cast("double") + lit(alpha * topN))
    val pg = (col("cg").cast("double") + lit(alpha)) /
      (col("tg").cast("double") + lit(alpha * topN))
    grid.join(broadcast(totals), Seq("source")).crossJoin(broadcast(tg))
      .withColumn("contrib", round((ps - pg) * log(ps / pg), 9))
      .groupBy(col("source"), col("ts"))
      .agg(sum(col("contrib")
        .cast(org.apache.spark.sql.types.DecimalType(28, 9))).as("spsi"))
      .select(col("source"), col("ts"),
        round(col("spsi").cast("double"), 6).as("psi"))
  }

  /** The corpus's topN global terms with counts — the REFERENCE
    * distribution the streaming drift monitor compares arrivals
    * against (memoized; topN rows). */
  def topTerms(spark: SparkSession, dir: String, topN: Int = 100): DataFrame =
    graft.Caches.memo(spark, s"topTerms:$dir:$topN") {
      Tables.fanOut(Tables.documents(spark, dir))
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cg"))
        .orderBy(col("cg").desc, col("term")).limit(topN)
    }

  def sourceDriftSql(topN: Int = 100, alpha: Double = 0.5): String = {
    val aN = alpha * topN
    // fully parenthesized: these interpolate into `ps / pg`, where an
    // unwrapped a/b / c/d would parse as ((a/b)/c)/d
    val psSql = s"((CAST(cs AS DOUBLE) + $alpha) / (CAST(ts AS DOUBLE) + $aN))"
    val pgSql = s"((CAST(cg AS DOUBLE) + $alpha) / (CAST(tg AS DOUBLE) + $aN))"
    s"""WITH tk AS (SELECT source, unnest(${tokensSql}) AS term FROM documents),
       |g AS (SELECT term, CAST(count(*) AS BIGINT) AS cg FROM tk GROUP BY 1),
       |top AS (SELECT term, cg FROM g ORDER BY cg DESC, term LIMIT $topN),
       |tgt AS (SELECT CAST(sum(cg) AS BIGINT) AS tg FROM top),
       |pc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cs FROM tk
       |       WHERE term IN (SELECT term FROM top) GROUP BY 1, 2),
       |sg AS (SELECT s.source, t.term, t.cg
       |       FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN top t),
       |grid AS (SELECT sg.source, sg.term, sg.cg, CAST(coalesce(p.cs, 0) AS BIGINT) AS cs
       |         FROM sg LEFT JOIN pc p
       |           ON p.source = sg.source AND p.term = sg.term),
       |tot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM grid GROUP BY 1),
       |c AS (SELECT grid.source, tot.ts,
       |        round(($psSql - $pgSql) * ln($psSql / $pgSql), 9) AS contrib
       |      FROM grid JOIN tot ON grid.source = tot.source CROSS JOIN tgt)
       |SELECT source, ts,
       |  round(CAST(sum(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6) AS psi
       |FROM c GROUP BY source, ts""".stripMargin
  }

  /** EXACT DUPLICATE-SPAN SCRUB (ExactSubstr dedup, Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): remove every token span that appears (anywhere
    * in the corpus, including twice inside one document) at least
    * `minDf` times, at window granularity — the OVERLAPPING-window
    * generalization of [[boilerplateScrub]]'s aligned chunks, so a
    * repeated passage is caught at every offset, not only when it lands
    * on a chunk boundary.
    *
    * Mechanics: every k-token rolling window (stride 1) is a candidate
    * span; windows whose gram recurs ≥ minDf times corpus-wide mark
    * their k covered token positions; a token survives iff no
    * duplicated window covers it; documents reassemble from surviving
    * tokens (normalized single-spaced lowercase, same as [[tokens]]).
    * Output one row per input document:
    * (doc_id, n_tokens, n_dup_windows, n_removed, clean_text).
    *
    * Scale: window-gram construction is a per-row projection (sequence +
    * slice over the token array — the document never explodes into
    * per-token rows on the Spark side); the df count explodes only
    * (doc_id, pos, gram) triples and is ONE map-side-combinable shuffle;
    * the duplicated-window set is NOT assumed broadcastable (at corpus
    * scale the dup fraction is 1–10% of all windows — Lee et al. §5), so
    * the semi join back is a plain shuffle join on the gram; one doc_id
    * shuffle collects duplicated positions per doc, and coverage +
    * reassembly are again per-row lambdas. The registered form joins on
    * the gram STRING so a plain-SQL oracle can replay it bit-for-bit; at
    * 100 TB swap the join key for xxhash64(gram) — 8-byte shuffle rows,
    * collision odds ~1e-9 at 10^9 windows — the same swap the scaladoc
    * on [[boilerplateScrub]] describes. The final reassembly join pairs
    * each doc's token array with its duplicated positions — that is one
    * shuffle of the tokenized corpus on doc_id (AQE broadcasts the
    * position side at small scale; at 100 TB, bucket `documents` by
    * doc_id and the join co-locates with ZERO corpus shuffle — the
    * bucketed-join path [[graft.scale.ScaleTechniques]] demonstrates).
    * Per-row coverage is
    * O(n_tokens · n_dup_positions) in the worst (fully duplicated) doc —
    * bounded by the k-window structure in practice; an interval-merge
    * pre-pass drops it to O(n · n_intervals) if profiling ever flags it. */
  def dupSpanScrub(spark: SparkSession, dir: String, k: Int = 15,
      minDf: Int = 2): DataFrame = {
    val base = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // the gram frame feeds BOTH the df count and the probe side of the
    // semi join — memoized+persisted so one materialization serves both
    // (and repeated invocations), instead of tokenizing + window-slicing
    // the corpus twice per run
    val grams = graft.Caches.memo(spark, s"dupSpanGrams:$dir:$k") {
      windowGrams(base, k)
    }
    dupSpanFromParts(base, dupPositionsMemo(spark, dir, grams, k, minDf), k)
  }

  def dupSpanScrubFromDocs(docs: DataFrame, k: Int, minDf: Int): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    dupSpanFromGrams(base, windowGrams(base, k), k, minDf)
  }

  /** Production form of [[dupSpanScrubFromDocs]]: the df count and the
    * probe join key on xxhash64(gram) instead of the gram STRING, so
    * the three gram-keyed exchanges carry 8-byte longs instead of
    * ~6·k-byte strings — the swap the registered oracle form documents.
    * Identical output unless two distinct k-grams collide in 64 bits
    * (≈ n²/2⁶⁵: ~1e-9 at 10⁹ windows; a collision can only ADD a
    * false duplicated window, never lose one). Spec-pinned equal to
    * the string-keyed form on the test corpus. */
  def dupSpanScrubHashedFromDocs(docs: DataFrame, k: Int,
      minDf: Int): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = windowGrams(base, k)
      .select(col("doc_id"), col("p"), xxhash64(col("gram")).as("gram"))
    dupSpanFromGrams(base, grams, k, minDf)
  }

  /** (doc_id, p, gram) for every k-token rolling window, p 1-based; a
    * doc shorter than k contributes no rows. A pure per-row projection
    * followed by a generator — the corpus text itself never shuffles. */
  private def windowGrams(base: DataFrame, k: Int): DataFrame = {
    val nWin = greatest(size(col("toks")) - (k - 1), lit(0))
    base
      .select(col("doc_id"),
        when(nWin > 0,
          transform(sequence(lit(1), nWin),
            p => struct(p.as("p"),
              concat_ws(" ", slice(col("toks"), p, lit(k))).as("gram"))))
          .otherwise(array().cast("array<struct<p:int,gram:string>>"))
          .as("wins"))
      .select(col("doc_id"), explode(col("wins")).as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.gram").as("gram"))
  }

  /** Memoized [[dupPositions]] for the REGISTERED dup-span family (r22):
    * dup_span_scrub, dup_spans_maximal and dup_span_scrub_maximal all
    * derive from the same (doc_id, dps) frame at (k, minDf) — without
    * the memo each query re-paid the two gram-keyed exchanges over the
    * corpus-sized window-gram frame plus the doc_id rollup (~10 warm
    * jobs each); with it the family pays them once per suite and each
    * consumer reads a doc-count-sized cached frame. */
  private def dupPositionsMemo(spark: SparkSession, dir: String,
      grams: DataFrame, k: Int, minDf: Int): DataFrame = {
    // scoped set/restore (the StreamingNearDup conf pattern): by default
    // Spark pins a cached plan's output partitioning, which compiles the
    // build's gram semi-join WITHOUT AQE's runtime join conversion — the
    // inline (uncached) form got a runtime broadcast there, the cached
    // build planned a static sort-merge over the corpus-sized gram frame
    // (ProfileR22 A/B: cold 3.29 → 3.04 s with the flag). The flag is
    // sampled when the plan is cached, so the scope covers the build;
    // it only relaxes a partitioning-stability guarantee no consumer of
    // this doc-keyed frame relies on (every consumer joins it by doc_id
    // or folds it per-row).
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try graft.Caches.memo(spark, s"dupSpanPositions:$dir:$k:$minDf") {
      dupPositions(grams, minDf)
    } finally spark.conf.set(key, prev)
  }

  /** (doc_id, dps) — the sorted 1-based start positions of every
    * duplicated k-window per document: ONE map-side-combinable df
    * shuffle on the gram plus one doc_id shuffle. Shared by the
    * window-granularity scrub and the maximal-span family. */
  private def dupPositions(grams: DataFrame, minDf: Int): DataFrame = {
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDf)
      .select(col("gram"))
    grams.join(dup, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("p"))).as("dps"))
  }

  private def dupSpanFromGrams(base: DataFrame, grams: DataFrame, k: Int,
      minDf: Int): DataFrame =
    dupSpanFromParts(base, dupPositions(grams, minDf), k)

  private def dupSpanFromParts(base: DataFrame, dupPos: DataFrame,
      k: Int): DataFrame = {
    base.join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("dps"), array().cast("array<int>")).as("dps"))
      .withColumn("kept",
        filter(col("toks"), (t, i) =>
          !exists(col("dps"), p => p <= i + 1 && i + 1 <= p + (k - 1))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("dps")).cast("long").as("n_dup_windows"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** MAXIMAL duplicated spans (Lee et al.'s suffix-array ExactSubstr
    * output shape): overlapping/contiguous duplicated k-windows merge
    * into maximal intervals per document — one row per maximal span,
    * (doc_id, span_start, span_end, span_len, n_windows), positions
    * 1-based over the normalized token sequence. This is the artifact
    * a dedup audit reads ("WHICH passages repeat, and how long are
    * they"), where [[dupSpanScrub]] only reports window counts.
    *
    * Scale: everything up to the per-doc duplicated-position list is
    * [[dupSpanScrub]]'s plan (shared memoized gram frame — running
    * both costs one pipeline); the interval merge itself is a per-row
    * `aggregate` fold over the already-sorted position array — zero
    * extra shuffles, no window function, no per-token explode. The
    * oracle replays the merge as a textbook gaps-and-islands window
    * (equal window lengths make "new island ⟺ p − lag(p) > k" exact). */
  def dupSpansMaximal(spark: SparkSession, dir: String, k: Int = 15,
      minDf: Int = 2): DataFrame = {
    val base = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = graft.Caches.memo(spark, s"dupSpanGrams:$dir:$k") {
      windowGrams(base, k)
    }
    mergedIvs(dupPositionsMemo(spark, dir, grams, k, minDf), k)
      .select(col("doc_id"), explode(col("ivs")).as("iv"))
      .select(col("doc_id"),
        col("iv.s").as("span_start"),
        col("iv.e").as("span_end"),
        (col("iv.e") - col("iv.s") + 1).as("span_len"),
        col("iv.nw").cast("long").as("n_windows"))
  }

  def dupSpansMaximalFromDocs(docs: DataFrame, k: Int,
      minDf: Int): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    mergedIvs(dupPositions(windowGrams(base, k), minDf), k)
      .select(col("doc_id"), explode(col("ivs")).as("iv"))
      .select(col("doc_id"),
        col("iv.s").as("span_start"),
        col("iv.e").as("span_end"),
        (col("iv.e") - col("iv.s") + 1).as("span_len"),
        col("iv.nw").cast("long").as("n_windows"))
  }

  /** MAXIMAL-SPAN scrub — Lee et al.'s actual removal rule: merge
    * duplicated windows into maximal spans first, then remove only the
    * spans of length ≥ `minSpanLen` (their suffix-array pipeline uses
    * a 50-token floor; the registered form uses a 40-token floor, which
    * splits the test corpus's 15-99-token span population both ways).
    * Short incidental repeats (idioms, n-gram collisions) SURVIVE,
    * where [[dupSpanScrub]] removes every duplicated window — this
    * variant closes that over-scrub margin at exact span extents.
    * Output mirrors [[dupSpanScrub]]:
    * (doc_id, n_tokens, n_spans, n_removed, clean_text).
    *
    * Scale: the span filter is a per-row array `filter` over the
    * folded interval list — the explode/regroup a naive plan would pay
    * is avoided entirely; beyond [[dupSpanScrub]]'s exchanges this
    * adds NOTHING. Coverage is O(n_tokens · n_spans) per row with
    * n_spans ≤ n_dup_windows (the merge only shrinks the list). */
  def dupSpanScrubMaximal(spark: SparkSession, dir: String, k: Int = 15,
      minDf: Int = 2, minSpanLen: Int = 40): DataFrame = {
    val base = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = graft.Caches.memo(spark, s"dupSpanGrams:$dir:$k") {
      windowGrams(base, k)
    }
    scrubMaximalFromParts(base, dupPositionsMemo(spark, dir, grams, k, minDf),
      k, minSpanLen)
  }

  def dupSpanScrubMaximalFromDocs(docs: DataFrame, k: Int, minDf: Int,
      minSpanLen: Int): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    scrubMaximalFromParts(base, dupPositions(windowGrams(base, k), minDf),
      k, minSpanLen)
  }

  /** Per-doc maximal intervals from the sorted duplicated-window
    * positions: a single `aggregate` fold — current interval (cs,ce,cn)
    * extends while the next window starts at or before ce+1 (equal
    * window lengths keep interval ends monotone, so no lookahead is
    * needed), else flushes to `done`. Returns (doc_id, ivs:
    * array<struct<s,e,nw>>). */
  private[graft] def mergedIvs(dupPos: DataFrame, k: Int): DataFrame = {
    val emptyIvs = array().cast("array<struct<s:int,e:int,nw:int>>")
    def closed(a: Column) = array(struct(
      a.getField("cs").as("s"), a.getField("ce").as("e"),
      a.getField("cn").as("nw")))
    val acc0 = struct(emptyIvs.as("done"),
      lit(-1).as("cs"), lit(-1).as("ce"), lit(0).as("cn"))
    dupPos.select(col("doc_id"),
      aggregate(col("dps"), acc0,
        (a, p) =>
          when(a.getField("cs") < 0,
            struct(a.getField("done").as("done"), p.as("cs"),
              (p + lit(k - 1)).as("ce"), lit(1).as("cn")))
          .when(p <= a.getField("ce") + 1,
            struct(a.getField("done").as("done"), a.getField("cs").as("cs"),
              greatest(a.getField("ce"), p + lit(k - 1)).as("ce"),
              (a.getField("cn") + 1).as("cn")))
          .otherwise(
            struct(concat(a.getField("done"), closed(a)).as("done"),
              p.as("cs"), (p + lit(k - 1)).as("ce"), lit(1).as("cn"))),
        a => when(a.getField("cs") < 0, a.getField("done"))
          .otherwise(concat(a.getField("done"), closed(a)))).as("ivs"))
  }

  private def scrubMaximalFromParts(base: DataFrame, dupPos: DataFrame,
      k: Int, minSpanLen: Int): DataFrame = {
    val ivs = mergedIvs(dupPos, k)
      .select(col("doc_id"),
        filter(col("ivs"),
          iv => iv.getField("e") - iv.getField("s") + 1 >= minSpanLen)
          .as("ivs"))
    base.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("ivs"), array().cast("array<struct<s:int,e:int,nw:int>>"))
          .as("ivs"))
      .withColumn("kept",
        filter(col("toks"), (t, i) =>
          !exists(col("ivs"), iv =>
            iv.getField("s") <= i + 1 && i + 1 <= iv.getField("e"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("ivs")).cast("long").as("n_spans"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** The shared CTE prefix of the dup-span oracle family (tokens →
    * rolling windows → duplicated grams → per-window positions) — the
    * three oracles build on it, so the window pipeline cannot silently
    * diverge between them. Pre-stripped. */
  private def dupWindowCtes(k: Int, minDf: Int): String =
    s"""tk AS (SELECT doc_id, ${tokensSql} AS toks FROM documents),
       |g AS (SELECT doc_id, toks,
       |        unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS p
       |      FROM tk),
       |h AS (SELECT doc_id, CAST(p AS INT) AS p,
       |        array_to_string(toks[p : p + ${k - 1}], ' ') AS gram
       |      FROM g),
       |dup AS (SELECT gram FROM h GROUP BY 1 HAVING count(*) >= $minDf)""".stripMargin

  /** Gaps-and-islands CTEs over the duplicated positions: with equal
    * window lengths and sorted positions, a new island starts exactly
    * when p − lag(p) > k. Appends `isl` = (doc_id, p, gid). */
  private def islandCtes(k: Int): String =
    s"""dpp AS (SELECT doc_id, p FROM h WHERE gram IN (SELECT gram FROM dup)),
       |brki AS (SELECT doc_id, p,
       |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $k
       |             THEN 0 ELSE 1 END AS brk
       |      FROM dpp),
       |isl AS (SELECT doc_id, p,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid
       |      FROM brki)""".stripMargin

  def dupSpansMaximalSql(k: Int = 15, minDf: Int = 2): String =
    s"""WITH ${dupWindowCtes(k, minDf)},
       |${islandCtes(k)}
       |SELECT doc_id,
       |  CAST(min(p) AS INT) AS span_start,
       |  CAST(max(p) + ${k - 1} AS INT) AS span_end,
       |  CAST(max(p) + ${k - 1} - min(p) + 1 AS INT) AS span_len,
       |  CAST(count(*) AS BIGINT) AS n_windows
       |FROM isl GROUP BY doc_id, gid""".stripMargin

  def dupSpanScrubMaximalSql(k: Int = 15, minDf: Int = 2,
      minSpanLen: Int = 40): String =
    s"""WITH ${dupWindowCtes(k, minDf)},
       |${islandCtes(k)},
       |iv AS (SELECT doc_id, CAST(min(p) AS INT) AS s,
       |         CAST(max(p) + ${k - 1} AS INT) AS e
       |       FROM isl GROUP BY doc_id, gid
       |       HAVING max(p) + ${k - 1} - min(p) + 1 >= $minSpanLen),
       |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM iv),
       |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY 1),
       |nsp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
       |        FROM iv GROUP BY 1),
       |o AS (SELECT tk.doc_id, toks, coalesce(cps, []) AS cps,
       |        coalesce(n_spans, 0) AS n_spans
       |      FROM tk LEFT JOIN cl ON tk.doc_id = cl.doc_id
       |        LEFT JOIN nsp ON tk.doc_id = nsp.doc_id),
       |r AS (SELECT doc_id, toks, cps, n_spans,
       |        list_filter(toks, (x, i) -> NOT list_contains(cps, i)) AS kept
       |      FROM o)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(n_spans AS BIGINT) AS n_spans,
       |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       |  coalesce(array_to_string(kept, ' '), '') AS clean_text
       |FROM r""".stripMargin

  def dupSpanScrubSql(k: Int = 15, minDf: Int = 2): String =
    s"""WITH ${dupWindowCtes(k, minDf)},
       |dp AS (SELECT doc_id, list_sort(list(p)) AS dps
       |       FROM h WHERE gram IN (SELECT gram FROM dup) GROUP BY 1),
       |o AS (SELECT tk.doc_id, toks, coalesce(dps, []) AS dps
       |      FROM tk LEFT JOIN dp USING (doc_id)),
       |r AS (SELECT doc_id, toks, dps,
       |        list_filter(toks, (x, i) ->
       |          len(list_filter(dps, p -> p <= i AND i <= p + ${k - 1})) = 0)
       |          AS kept
       |      FROM o)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(dps) AS BIGINT) AS n_dup_windows,
       |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       |  coalesce(array_to_string(kept, ' '), '') AS clean_text
       |FROM r""".stripMargin

  /** Winnowed fingerprint summary per document (custom codegen'd Catalyst
    * expression — [[graft.functions.WinnowedFingerprint]]); DuckDB
    * oracle via [[fingerprintsSql]]. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp", winnowed_fingerprint(col("text"), 8, 4))
      .select(
        col("doc_id"),
        size(col("fp")).as("fp_size"),
        array_min(col("fp")).as("fp_min"),
        array_max(col("fp")).as("fp_max"))

  /** CTE block reconstructing [[graft.functions.WinnowedFingerprint]]'s
    * per-doc fingerprint SET as `fp(doc_id, h)` rows, in pure SQL — the
    * shared scaffold of the `fingerprint` and `decontam_fp` oracles.
    *
    * Why this is SQL-expressible at all: (a) the engine's Karp-Rabin
    * hash wraps in Java Long arithmetic, i.e. mod 2^64, so each window
    * hash is the closed-form Σ code(s[i+j])·Base^(k-1-j) mod 2^64 —
    * replayed here in HUGEINT with the Scala-wrapped powers embedded as
    * unsigned literals, then re-signed; (b) the rolling update is
    * algebraically identical to that closed form, so position hashes
    * are INDEPENDENT (no cross-window state, unlike CDC's resetting
    * gear hash); (c) winnowing keeps only the min VALUE of each
    * w-window (ties affect which index wins, never the value) and
    * dedups, so the selected set is `DISTINCT min-over-window` — a
    * plain sliding-window aggregate. charAt (UTF-16) == unicode()
    * (code point) because the corpus is ASCII; a non-BMP corpus would
    * need a byte-level recast on both sides. */
  def fingerprintCtesSql(k: Int = 8, w: Int = 4): String = {
    val Base = 1000003L
    // Base^p wrapped in Long (the engine's overflow semantics), embedded
    // as unsigned decimals for HUGEINT math
    val pows = Array.iterate(1L, k)(_ * Base)
    val terms = (0 until k).map { j =>
      s"unicode(substr(text, i + ${j}, 1))::HUGEINT * ${java.lang.Long.toUnsignedString(pows(k - 1 - j))}::HUGEINT"
    }.mkString("\n      + ")
    s"""pos AS (
       |  SELECT doc_id, text,
       |    CAST(unnest(range(1, length(text) - ${k} + 2)) AS INT) AS i
       |  FROM documents),
       |hh AS (
       |  SELECT doc_id, i,
       |    CAST((CASE WHEN m0 >= 9223372036854775808::HUGEINT
       |      THEN m0 - 18446744073709551616::HUGEINT ELSE m0 END) AS BIGINT) AS h
       |  FROM (SELECT doc_id, i,
       |      (${terms}) % 18446744073709551616::HUGEINT AS m0
       |    FROM pos)),
       |wm AS (
       |  SELECT doc_id, i, h,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh,
       |    count(*) OVER (PARTITION BY doc_id) AS m
       |  FROM hh),
       |fp AS (
       |  SELECT DISTINCT doc_id, mh AS h FROM wm
       |  WHERE m > ${w} AND i <= m - ${w} + 1
       |  UNION
       |  SELECT doc_id, min(h) AS h FROM wm
       |  GROUP BY doc_id HAVING count(*) <= ${w})""".stripMargin
  }

  /** DuckDB oracle for [[fingerprints]]: aggregate the replayed
    * fingerprint set; docs shorter than k keep a size-0/null row via
    * the left join, mirroring the engine's empty array. */
  def fingerprintsSql(k: Int = 8, w: Int = 4): String =
    s"""WITH ${fingerprintCtesSql(k, w)}
       |SELECT d.doc_id, CAST(coalesce(a.c, 0) AS INT) AS fp_size,
       |  a.mn AS fp_min, a.mx AS fp_max
       |FROM documents d LEFT JOIN
       |  (SELECT doc_id, count(*) AS c, min(h) AS mn, max(h) AS mx
       |   FROM fp GROUP BY doc_id) a
       |  USING (doc_id)""".stripMargin
}
