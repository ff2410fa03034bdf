package graft

import graft.functions.GraftFunctions
import graft.ops.RelOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  test("native expressions are callable from SQL after registration") {
    GraftFunctions.register(spark)
    Tables.documents(spark, sf).limit(5).createOrReplaceTempView("docs_tmp")
    val viaSql = spark.sql(
      """SELECT doc_id, size(winnowed_fingerprint(text, 8, 4)) AS n
        |FROM docs_tmp""".stripMargin).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaColumn = Tables.documents(spark, sf).limit(5)
      .select(col("doc_id"),
        size(graft.functions.WinnowedFingerprint.winnowed_fingerprint(col("text")))
          .as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == viaColumn && viaSql.nonEmpty)

    val d = spark.sql(
      "SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d").collect()(0).getDouble(0)
    assert(d == 9.0)
  }

  test("GraftExtensions injects the asof planner strategy (config-driven path)") {
    // spark.sql.extensions is a static conf — unappliable to a reused
    // SparkContext in-JVM — so verify the injection product directly
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val injected = org.apache.spark.sql.GraftBridge.plannerStrategies(ext, spark)
    assert(injected.contains(graft.plans.AsofJoinPlan.AsofJoinStrategy))
  }

  test("tokenize kernel == filter(split(lower)) chain: corpus + adversarial cases") {
    import spark.implicits._
    // the real corpus: every document's token array, element for element
    val both = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.Tokenize.tokenize(col("text")).as("native"),
        graft.llm.TextOps.tokensHof(col("text")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: native != hof")
    }
    // adversarial: every \s byte, unicode NON-\s whitespace (NBSP stays
    // inside a token — Java \s is ASCII-only without the unicode flag),
    // multibyte chars, case folding incl. non-ASCII, empties, nulls
    val nasty: Seq[Option[String]] = Seq(
      Some(""), Some(" \t\n\f\r "), Some("a"), Some(" a "),
      Some("A\u00A0B"),            // NBSP: one token in BOTH forms
      Some("Füß GRÖSSE İstanbul"), // unicode lowercasing parity
      Some("日本\t語 テスト"), Some("a  b\r\nc"), Some("\rx\t"),
      Some("\u00FCmlaut\u2028sep"), // U+2028 is not ASCII \s: one token
      None)
    val got = nasty.toDF("text")
      .select(graft.functions.Tokenize.tokenize(col("text")).as("native"),
        graft.llm.TextOps.tokensHof(col("text")).as("hof"))
      .collect()
    got.zip(nasty).foreach { case (r, in) =>
      val n = Option(r.get(0)).map(_ => r.getSeq[String](0))
      val h = Option(r.get(1)).map(_ => r.getSeq[String](1))
      assert(n == h, s"input $in: native $n != hof $h")
    }
  }

  test("nearest_cell == the HOF fold on real embeddings; null/mismatch semantics; scaled k") {
    import graft.llm.Vectors
    import graft.functions.NearestCell.nearest_cell
    // parity on the real corpus at the registered k — the property the
    // dedup_semantic / similarity_topk_ivf oracles rely on
    val cents = Vectors.coarseCentroids(spark, sf, 16)
    val emb = Tables.embeddings(spark, sf)
    val both = emb.select(col("vec_id"),
        nearest_cell(col("embedding"), cents).as("native"),
        Vectors.cellOfHof(cents).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"vec ${r.getLong(0)}: native ${r.getInt(1)} != hof ${r.getInt(2)}"))

    // null embedding, wrong width, null element -> null from BOTH forms
    val d = cents(0).length
    val rows: Seq[(Long, Option[Array[Option[Float]]])] = Seq(
      (1L, Some(Array.fill(d)(Option(0.5f)))),          // valid
      (2L, None),                                       // null array
      (3L, Some(Array.fill(d - 1)(Option(0.5f)))),      // wrong width
      (4L, Some(Array.tabulate(d)(i =>
        if (i == 3) Option.empty[Float] else Option(0.5f)))) // null element
    )
    import spark.implicits._
    val weird = rows.toDF("vec_id", "embedding")
    val got = weird.select(col("vec_id"),
        nearest_cell(col("embedding"), cents).as("native"),
        Vectors.cellOfHof(cents).as("hof"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    got.foreach { case (id, n, h) =>
      assert(n == h, s"row $id: native $n != hof $h")
      if (id != 1L) assert(n.isEmpty, s"row $id should be null, got $n")
      else assert(n.nonEmpty)
    }

    // corpus-scaled k: a 256-cell quantizer assigns every vector and
    // still matches the HOF twin (the shape the 100x leg runs at)
    val bigK = Vectors.coarseCentroids(spark, sf, 256)
    val scaled = emb.select(
        nearest_cell(col("embedding"), bigK).as("native"),
        Vectors.cellOfHof(bigK).as("hof"))
      .collect()
    scaled.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    assert(scaled.map(_.getInt(0)).distinct.length > 16,
      "256-cell quantizer should spread beyond 16 cells")
  }

  test("ivfpq_encode == the HOF chain on real embeddings; null semantics; adc_score == the fold") {
    import graft.llm.Vectors
    import graft.functions.IvfPqEncode.ivfpq_encode
    import graft.functions.AdcScore.adc_score
    val m = 8; val dim = 64; val sub = dim / m; val nCodes = 64
    val cents = Vectors.coarseCentroids(spark, sf, 16)
    val books = Vectors.ivfPqCodebooks(spark, sf,
      Vectors.coarseQuantizer(spark, sf, 16), m, nCodes, dim)
    val emb = Tables.embeddings(spark, sf)
      .withColumn("nrm", lit(1.0)) // encode ignores nrm; HOF twin carries it
    // the parity the residual IVF-PQ oracles rely on: native one-pass
    // encode ≡ NearestCell + zip_with residual + per-subspace HOF argmin
    val hof = Vectors.ivfPqEncodeHof(emb, cents, books, m, sub).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getSeq[Int](3).toList))).toMap
    val native = emb.select(col("vec_id"),
        ivfpq_encode(col("embedding"), cents, books).as("enc")).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).head, r.getSeq[Int](1).tail.toList))).toMap
    assert(native.nonEmpty && native.keySet == hof.keySet)
    native.foreach { case (id, enc) =>
      assert(enc == hof(id), s"vec $id: native $enc != hof ${hof(id)}")
    }

    // vanilla PQ = the kernel's degenerate single-zero-centroid rung
    // (residual v − 0.0 ≡ v): codes equal the HOF twin's bit for bit
    val zero = Array(Array.fill(dim)(0.0))
    val pqBooks = Vectors.ivfPqCodebooks(spark, sf, Vectors.origin(dim),
      m, nCodes, dim)
    val pqHof = Vectors.ivfPqEncodeHof(emb, zero, pqBooks, m, sub).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](3).toList).toMap
    val pqNative = emb.select(col("vec_id"),
        ivfpq_encode(col("embedding"), zero, pqBooks).as("enc")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).tail.toList).toMap
    assert(pqNative == pqHof)

    // null array, wrong width, null element -> null (the HOF chain's
    // null-propagation)
    val rows: Seq[(Long, Option[Array[Option[Float]]])] = Seq(
      (1L, Some(Array.fill(dim)(Option(0.5f)))),
      (2L, None),
      (3L, Some(Array.fill(dim - 1)(Option(0.5f)))),
      (4L, Some(Array.tabulate(dim)(i =>
        if (i == 5) Option.empty[Float] else Option(0.5f)))))
    import spark.implicits._
    val weird = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), ivfpq_encode(col("embedding"), cents, books))
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    weird.foreach { case (id, v) =>
      if (id == 1L) assert(v.nonEmpty) else assert(v.isEmpty, s"row $id")
    }

    // adc_score ≡ the ascending left fold over lut[j*nCodes + code_j]
    val lut = Array.tabulate(m * nCodes)(i => math.sin(i.toDouble))
    val codes = Seq(Seq(0, 5, 63, 17, 2, 2, 40, 8), Seq.fill(m)(63))
    val scored = codes.map(c => (c, lut.toSeq)).toDF("codes", "lut")
      .select(adc_score(col("codes"), col("lut"))).collect().map(_.getDouble(0))
    codes.zip(scored).foreach { case (c, got) =>
      var s = 0.0
      c.zipWithIndex.foreach { case (code, j) => s += lut(j * nCodes + code) }
      assert(got == s)
    }
    // out-of-range code (corrupt input) -> null, not garbage
    val bad = Seq((Seq(0, 5, 64, 0, 0, 0, 0, 0), lut.toSeq)).toDF("codes", "lut")
      .select(adc_score(col("codes"), col("lut"))).collect()
    assert(bad.head.isNullAt(0))
  }

  test("KLL quantile sketch: rank error within 2% of exact, laws hold") {
    import graft.functions.KllSketch
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    // exact per-group sorted truth
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val byFlag = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = KllSketch.quantileSketch(spark, sf).collect()
      .map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2))).toMap
    assert(got.size == byFlag.size * qs.size)
    for (((flag, q), est) <- got) {
      val sorted = byFlag(flag)
      val n = sorted.length
      // rank of the estimate in the exact order vs target rank
      val rank = sorted.count(_ <= est)
      assert(math.abs(rank - q * n) <= math.max(0.02 * n, 2.0),
        s"flag=$flag q=$q est=$est rank=$rank n=$n")
    }
    // merge law: sketch(a ++ b) == merge(sketch(a), sketch(b)) readouts
    // stay inside the same envelope regardless of the split point
    val vals = byFlag.values.flatten.toVector
    val sk = KllSketch(64, qs)
    def build(xs: Seq[Double]) = xs.foldLeft(sk.zero)(sk.reduce)
    val merged = sk.finish(sk.merge(build(vals.take(vals.size / 3)),
      build(vals.drop(vals.size / 3))))
    val whole = vals.sorted
    merged.zip(qs).foreach { case (est, q) =>
      val rank = whole.count(_ <= est)
      assert(math.abs(rank - q * whole.size) <= 0.05 * whole.size,
        s"merged sketch q=$q est=$est rank=$rank")
    }
    // determinism: same input order => identical buffer and readout
    assert(sk.finish(build(vals)) == sk.finish(build(vals)))
  }

  test("BPE merge learning: hand-verified sequence, determinism, corpus query shape") {
    import graft.functions.BpeTokenCount
    // hand-traceable vocabulary:
    //   pair counts round 1: (a,a): 2·10=20 from "aaab", (a,b): 10+5=15,
    //   (l,o): 8, (o,w): 8 → merge 1 = (a,a)
    //   round 2: "aaab"→[aa,a,b]: (aa,a):10, (a,b):15, (l,o):8 → (a,b)
    //   round 3: "aaab"→[aa,ab]... wait: [aa,a,b] with (a,b) merged →
    //   [aa,ab]: (aa,ab):10; "ab"→[ab]; (l,o):8 → merge 3 = (aa,ab)
    val vocab = Seq(("aaab", 10L), ("ab", 5L), ("low", 8L))
    val merges = BpeTokenCount.learnMerges(vocab, 3)
    assert(merges == Vector(("a", "a"), ("a", "b"), ("aa", "ab")),
      s"unexpected learned sequence: $merges")
    // determinism (ties break lexicographically)
    assert(BpeTokenCount.learnMerges(vocab, 3) == merges)
    // tie case: equal counts pick the lexicographically smallest pair
    assert(BpeTokenCount.learnMerges(Seq(("ba", 3L), ("cd", 3L)), 1) ==
      Vector(("b", "a")))
    // the corpus query: ranked rows, dense from 1, all pairs non-empty
    val df = graft.llm.TextOps.bpeMerges(spark, sf, nMerges = 10).collect()
    assert(df.length == 10)
    assert(df.map(_.getInt(0)).toSeq == (1 to 10))
    assert(df.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
  }

  test("bpeMerges vocab cap: non-binding cap is invariant, binding cap deterministic") {
    def tbl(minFreq: Long, maxVocab: Int) =
      graft.llm.TextOps.bpeMerges(spark, sf, nMerges = 10, minFreq, maxVocab)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    val corpusVocab = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        graft.llm.TextOps.tokens(org.apache.spark.sql.functions.col("text"))).as("w"))
      .distinct().count()
    // the default 2^20 cap is non-binding at test scale — learned table
    // must be bit-identical to an even larger explicit cap
    assert(corpusVocab < (1 << 20))
    assert(tbl(1L, 1 << 20) == tbl(1L, 1 << 22))
    // a BINDING cap (top-50 words only) still learns a valid ranked
    // table and the frequency-desc/word-asc cut is deterministic
    val capped = tbl(1L, 50)
    assert(capped == tbl(1L, 50))
    assert(capped.map(_._1) == (1 to capped.length))
    // min-frequency floor: merges learned from f>=2 words are a
    // deterministic subsequence-style table, ranked dense from 1
    val floored = tbl(2L, 1 << 20)
    assert(floored == tbl(2L, 1 << 20))
    assert(floored.map(_._1) == (1 to floored.length))
  }

  test("learned-table token count == independent reimpl; corpus-fit compresses harder") {
    import graft.functions.BpeTokenCount
    val table = graft.llm.TextOps.bpeMerges(spark, sf, nMerges = 30).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    // independent greedy-merge reimpl (list recursion), driven by the
    // SAME learned table — the contract is the counting semantics
    val rk = table.zipWithIndex.toMap
    def mergeOnce(syms: List[String]): Option[List[String]] = {
      val pairs = syms.zip(syms.drop(1)).filter(rk.contains)
      if (pairs.isEmpty) None
      else {
        val best = pairs.minBy(rk)
        def go(l: List[String]): List[String] = l match {
          case a :: b :: rest if (a, b) == best => (a + b) :: go(rest)
          case x :: rest => x :: go(rest)
          case Nil => Nil
        }
        Some(go(syms))
      }
    }
    def wordCount(w: String): Long = {
      var syms = w.map(_.toString).toList
      var next = mergeOnce(syms)
      while (next.isDefined) { syms = next.get; next = mergeOnce(syms) }
      syms.length.toLong
    }
    def docCount(text: String): Long =
      "[a-zA-Z]+|[^a-zA-Z\\s]".r.findAllIn(text).map { t =>
        if (t.head.isLetter) wordCount(t.toLowerCase) else 1L
      }.sum
    val docs = Tables.documents(spark, sf).limit(40)
    val got = graft.llm.TextOps.tokenCountLearned(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> docCount(r.getString(1))).toMap
    for ((id, n) <- want)
      assert(got(id)._1 == n, s"doc $id: engine ${got(id)._1}, spec $n")
    // 30 corpus-fitted merges should compress THIS corpus at least as
    // hard in aggregate as the 65-entry fixed English table
    val (sumLearned, sumFixed) = got.values
      .foldLeft((0L, 0L)) { case ((a, b), (l, f)) => (a + l, b + f) }
    assert(sumLearned <= sumFixed,
      s"learned table compresses worse: $sumLearned vs $sumFixed")
  }

  test("CDC chunks: boundaries match a plain-Scala gear roll; edits don't propagate") {
    import graft.functions.CdcBoundaries
    import spark.implicits._
    // independent roll over the same published recurrence
    def scalaBoundaries(s: String, avgBits: Int = 6, minLen: Int = 16,
        maxLen: Int = 256): Vector[Int] = {
      val bytes = s.getBytes("UTF-8")
      val mask = (1L << avgBits) - 1
      var out = Vector(0); var h = 0L; var last = 0
      for (i <- bytes.indices) {
        h = (h << 1) + CdcBoundaries.gear(bytes(i) & 0xff)
        val len = i - last + 1
        if ((len >= minLen && (h & mask) == 0L) || len >= maxLen) {
          out :+= i + 1; last = i + 1; h = 0L
        }
      }
      if (out.last != bytes.length) out :+= bytes.length
      out
    }
    // varied sentences: a short-period repetitive string has only ~period
    // distinct 6-byte gear windows, and if none masks to zero every cut
    // degrades to the maxLen fallback (observed: 10/12 forced cuts) —
    // entropy like real text is what content-defined cuts key on
    val base = (1 to 80).map(i =>
      s"sentence ${java.util.UUID.nameUUIDFromBytes(i.toString.getBytes).toString.take(8)} marker ${i * i}")
      .mkString(" ")
    val shifted = "INSERTED-BOILERPLATE-PREFIX " + base
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    // 1. engine boundaries == plain Scala, both docs
    val got = docs.select(col("doc_id"),
        CdcBoundaries.cdc_boundaries(col("text")).as("b")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toMap
    assert(got(1L) == scalaBoundaries(base))
    assert(got(2L) == scalaBoundaries(shifted))
    // 2. the CDC law: a prefix insertion leaves the tail chunks' hashes
    // intact — fixed windows would re-hash EVERYTHING after the edit
    val hashes = graft.llm.TextOps.cdcChunksFromDocs(docs)
      .select("doc_id", "chunk_md5").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val survived = (hashes(1L) intersect hashes(2L)).size.toDouble / hashes(1L).size
    assert(survived >= 0.8,
      s"only ${(survived * 100).round}% of chunks survived a prefix edit")
    // 3. empty doc => zero chunks, no crash
    assert(graft.llm.TextOps.cdcChunksFromDocs(
      Seq((3L, "")).toDF("doc_id", "text")).count() == 0L)
  }

  test("HLL sketch: error within 5% of exact distinct, merge is bit-identical") {
    import graft.functions.HllSketch
    // registered query vs the exact distinct-count sibling
    val exact = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val est = HllSketch.hllDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est.keySet == exact.keySet)
    for ((k, n) <- exact) {
      val e = est(k)
      assert(math.abs(e - n).toDouble <= math.max(0.05 * n, 2.0),
        s"$k: est $e vs exact $n")
    }
    // merge law on raw registers: sketch(A ++ B) == merge(sketch(A),
    // sketch(B)) REGISTER-FOR-REGISTER, any split point — the property
    // that makes per-day sketches foldable into rolling uniques
    val sk = HllSketch(12)
    val vals = (1L to 20000L).map(_ * 7919L)
    def build(xs: Seq[Long]) = xs.foldLeft(sk.zero)(sk.reduce)
    for (cut <- Seq(0, 1, 5000, 19999, 20000)) {
      val merged = sk.merge(build(vals.take(cut)), build(vals.drop(cut)))
      assert(java.util.Arrays.equals(merged, build(vals)),
        s"registers diverge at split $cut")
    }
    // idempotent union: folding the same day twice changes nothing
    val a = build(vals.take(10000))
    assert(java.util.Arrays.equals(sk.merge(build(vals.take(10000)), a), a))
    // error on a known large cardinality
    val e20k = sk.finish(build(vals))
    assert(math.abs(e20k - 20000L) <= 1000, s"20k est $e20k")
  }

  test("bpe_token_count == independent plain-Scala greedy merge count") {
    import graft.functions.BpeTokenCount
    // independent reimplementation: immutable Lists + recursion, sharing
    // only the published merge table (the contract under test)
    val rk = BpeTokenCount.merges.zipWithIndex.toMap
    def mergeOnce(syms: List[String]): Option[List[String]] = {
      val pairs = syms.zip(syms.drop(1)).filter(rk.contains)
      if (pairs.isEmpty) None
      else {
        val best = pairs.minBy(rk)
        def go(l: List[String]): List[String] = l match {
          case a :: b :: rest if (a, b) == best => (a + b) :: go(rest)
          case x :: rest => x :: go(rest)
          case Nil => Nil
        }
        Some(go(syms))
      }
    }
    def wordCount(w: String): Long = {
      var syms = w.map(_.toString).toList
      var next = mergeOnce(syms)
      while (next.isDefined) { syms = next.get; next = mergeOnce(syms) }
      syms.length.toLong
    }
    def docCount(text: String): Long =
      "[a-zA-Z]+|[^a-zA-Z\\s]".r.findAllIn(text).map { t =>
        if (t.head.isLetter) wordCount(t.toLowerCase) else 1L
      }.sum

    val crafted = Seq(
      "the theater is in the thing",  // multi-level merges (th+e, th+at…)
      "printing and privatization of nations", // ing/and/ation tiers
      "a",                            // single char
      "",                             // empty
      "Hello, World! 123",            // case folding, punct + digits 1 each
      "zzzz qqqq",                    // no merges apply: chars count
      "ingingING")                    // repeated mergeable unit
    crafted.foreach { s =>
      val got = spark.range(1)
        .select(BpeTokenCount.bpe_token_count(lit(s)).as("n"))
        .head().getLong(0)
      assert(got == docCount(s), s"mismatch on '$s': engine $got, spec ${docCount(s)}")
    }
    // and over real corpus docs, through codegen
    val docs = Tables.documents(spark, sf).limit(50)
    val got = docs.select(col("doc_id"),
        BpeTokenCount.bpe_token_count(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> docCount(r.getString(1))).toMap
    assert(got == want && got.nonEmpty)
    // BPE sits between whitespace words and characters
    val row = Tables.documents(spark, sf)
      .select(
        sum(size(graft.llm.TextOps.tokens(col("text")))).cast("long").as("ws"),
        sum(BpeTokenCount.bpe_token_count(col("text"))).as("bpe"),
        sum(col("n_chars")).as("chars")).head()
    assert(row.getLong(0) < row.getLong(1) && row.getLong(1) < row.getLong(2))
    // callable from SQL too
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT bpe_token_count('the thing') AS n").head().getLong(0)
      == docCount("the thing"))
  }

  test("deflate_ratio == plain-Scala refold; ordering law repetitive < prose < random") {
    import graft.functions.DeflateRatio
    def refold(s: String): Double = {
      val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (raw.isEmpty) return 0.0
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      n.toDouble / raw.length
    }
    // engine == refold over real corpus docs, through codegen
    val got = Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), DeflateRatio.deflate_ratio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val texts = Tables.documents(spark, sf).limit(40).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty)
    for ((id, t) <- texts) assert(got(id) == refold(t), s"doc $id")
    // ordering law: the tails the screen exists to catch
    val repetitive = Array.fill(80)("buy now click here").mkString(" ")
    val prose = texts.values.maxBy(_.length)
    val rng = new scala.util.Random(42)
    val random = Array.fill(1200)((33 + rng.nextInt(94)).toChar).mkString
    assert(refold(repetitive) < refold(prose) && refold(prose) < refold(random))
    val viaEngine = Seq(repetitive, prose, random).map { s =>
      spark.range(1).select(DeflateRatio.deflate_ratio(lit(s))).head().getDouble(0)
    }
    assert(viaEngine == Seq(repetitive, prose, random).map(refold))
    // empty input is defined
    assert(spark.range(1).select(DeflateRatio.deflate_ratio(lit("")))
      .head().getDouble(0) == 0.0)
    // callable from SQL
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT deflate_ratio('aaaa aaaa aaaa') AS r")
      .head().getDouble(0) == refold("aaaa aaaa aaaa"))
  }

  test("ngram_gen generator == composed explode(transform) form, lazily") {
    import graft.functions.NGramGenerate.ngram_gen
    import graft.llm.{Decontam, TextOps}
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(60)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    for (n <- Seq(2, 13)) {
      val gen = docs.select(col("doc_id"), ngram_gen(col("toks"), n).as("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val composed = docs.select(col("doc_id"),
          explode(Decontam.ngramsFromTokens(col("toks"), n)).as("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(gen.toSeq == composed.toSeq && gen.nonEmpty, s"n=$n")
    }
    // short and null inputs produce no rows, not errors
    val edge = Seq((1L, Seq("only", "two")), (2L, Seq.empty[String]))
      .toDF("doc_id", "toks")
      .union(Seq((3L, null.asInstanceOf[Seq[String]])).toDF("doc_id", "toks"))
    assert(edge.select(ngram_gen(col("toks"), 13)).count() == 0)
    assert(edge.select(ngram_gen(col("toks"), 2).as("g")).collect()
      .map(_.getString(0)).toSeq == Seq("only two"))
  }

  test("banded levenshtein rule: injected, rewrites all four forms, result parity") {
    import graft.plans.BandedLevenshteinRule
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import spark.implicits._
    // config-driven injection product (static conf can't re-apply in-JVM)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    assert(GraftBridge.optimizerRules(ext, spark).contains(BandedLevenshteinRule))

    // fixture: random strings + mutated twins, distances straddling k
    val rng = new scala.util.Random(7)
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rng.nextInt(4)).toChar).mkString
    val pairs = (1 to 60).map { i =>
      val s = randStr(20 + rng.nextInt(30))
      val edits = rng.nextInt(8)
      val t = (1 to edits).foldLeft(s)((x, _) =>
        x.updated(rng.nextInt(x.length), ('a' + rng.nextInt(6)).toChar))
      (i.toLong, s, if (i % 5 == 0) randStr(25) else t)
    }.toDF("id", "a", "b")

    def hasBanded(p: LogicalPlan): Boolean = p.expressions.exists(_.exists {
      case Levenshtein(_, _, Some(_)) => true
      case _ => false
    })
    val forms: Seq[org.apache.spark.sql.Column] = Seq(
      levenshtein(col("a"), col("b")) <= 3,
      levenshtein(col("a"), col("b")) < 4,
      lit(3) >= levenshtein(col("a"), col("b")),
      lit(4) > levenshtein(col("a"), col("b")),
      levenshtein(col("a"), col("b")) <= 0) // boundary k = 0
    for (f <- forms) {
      val analyzed = pairs.filter(f).queryExecution.analyzed
      assert(!hasBanded(analyzed))
      val rewritten = BandedLevenshteinRule(analyzed)
      assert(hasBanded(rewritten), s"rule did not fire on $f")
      val got = GraftBridge.ofRows(spark, rewritten)
        .select("id").collect().map(_.getLong(0)).toSet
      val want = pairs.filter(f).select("id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"parity broken for $f")
      assert(want.nonEmpty && want.size < 60, s"fixture not straddling for $f")
    }
    // out-of-scope shapes are left alone: lower bounds and non-literal k
    for (f <- Seq(levenshtein(col("a"), col("b")) > 3,
        levenshtein(col("a"), col("b")) <= length(col("a")))) {
      val analyzed = pairs.filter(f).queryExecution.analyzed
      assert(!hasBanded(BandedLevenshteinRule(analyzed)), s"over-rewrote $f")
    }
  }

  test("approx_count_distinct tracks exact within 5%") {
    val joined = RelOps.countDistinctUsers(spark, sf)
      .join(Tables.events(spark, sf).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx")), Seq("event_type"))
      .withColumn("relerr",
        abs(col("approx") - col("n_users")).cast("double") / col("n_users"))
    assert(joined.filter(col("relerr") > 0.05).count() == 0)
  }

  test("CMS: one-sided estimates within eps*N; merge law; exact when wide enough") {
    import graft.functions.CmsSketch
    import spark.implicits._
    val eps = 0.005
    val ev = Tables.events(spark, sf).select(col("user_id"))
    val n = ev.count()
    val exact = ev.groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sk = CmsSketch.sketchBytes(ev, "user_id", eps, 0.99, 42)
    val est = CmsSketch.estimate(ev.distinct(), "user_id", sk).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (k, e) =>
      assert(e >= exact(k), s"CMS under-counted key $k")
      assert(e <= exact(k) + math.ceil(eps * n).toLong,
        s"key $k: est $e vs exact ${exact(k)} breaches eps*N")
    }
    // MERGE LAW: cell-wise addition of two half-stream sketches answers
    // exactly like one sketch of the whole stream (same seed => same
    // hash family => identical tables)
    import org.apache.spark.util.sketch.CountMinSketch
    val loBytes = CmsSketch.sketchBytes(
      ev.filter(col("user_id") % 2 === 0), "user_id", eps, 0.99, 42)
    val hiBytes = CmsSketch.sketchBytes(
      ev.filter(col("user_id") % 2 === 1), "user_id", eps, 0.99, 42)
    val merged = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(loBytes))
    merged.mergeInPlace(
      CountMinSketch.readFrom(new java.io.ByteArrayInputStream(hiBytes)))
    exact.keys.foreach { k =>
      val full = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(sk))
      assert(merged.estimateCount(k) == full.estimateCount(k),
        s"merge law broken for key $k")
    }
    // EXACTNESS when the table out-widths the key set: few keys, tiny eps
    val crafted = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("k")
    val skw = CmsSketch.sketchBytes(crafted, "k", 0.0001, 0.999, 7)
    val got = CmsSketch.estimate(crafted.distinct(), "k", skw).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
    // and the registered query's top-k ORDER matches exact counts where
    // estimates are separated by more than the error bound
    val top = CmsSketch.cmsTopK(spark, sf, k = 5).collect()
    assert(top.length == 5)
    assert(top.map(_.getLong(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("unicode_normalize: NFC composes, NFKC folds compatibility forms, SQL path works") {
    import graft.functions.UnicodeNormalize.unicode_normalize
    import spark.implicits._
    val decomposed = "e\u0301te\u0301"       // e + COMBINING ACUTE, twice
    val composed = "\u00e9t\u00e9"           // été in NFC
    val ligature = "\uFB01le \uFF41\uFF42"  // ﬁle + fullwidth ab
    val df = Seq((1L, decomposed), (2L, composed), (3L, ligature), (4L, "plain"))
      .toDF("id", "t")
    val got = df.select(col("id"),
        unicode_normalize(col("t")).as("nfc"),
        unicode_normalize(col("t"), "NFKC").as("nfkc"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L)._1 == composed)         // NFC composes the pair
    assert(got(2L)._1 == composed)         // already-NFC is untouched
    assert(got(3L)._2 == "file ab")        // NFKC folds ligature + width
    assert(got(3L)._1 == ligature)         // NFC alone does NOT fold them
    assert(got(4L)._1 == "plain" && got(4L)._2 == "plain")
    // SQL registration path
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("norm_tmp")
    val viaSql = spark.sql(
      "SELECT id, unicode_normalize(t) AS nfc, unicode_normalize(t, 'NFKC') AS nfkc FROM norm_tmp")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(viaSql == got)
  }
}
