package graft

import graft.functions.WinnowedFingerprint
import graft.llm.{Decontam, Dedup, DedupIndex, Multimodal, TextOps, Vectors}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline operators verified against brute-force / plain-Scala
  * truth at sf0.001 (the approximate operators have no SQL oracle —
  * this suite is their correctness gate). */
class LlmOpsSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  test("prefix-filtered jaccard join equals the naive inverted-index join") {
    val sets = Dedup.shingleArrays(spark, sf)
    val sh = sets.select(col("doc_id"), explode(col("shset")).as("shingle"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val naive = sh.select(col("doc_id").as("ida"), col("shingle"))
      .join(sh.select(col("doc_id").as("idb"), col("shingle")), Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("ida"), col("n").as("na")), Seq("ida"))
      .join(sz.select(col("doc_id").as("idb"), col("n").as("nb")), Seq("idb"))
      .withColumn("j", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("j") >= 0.6)
      .select(col("ida"), col("idb"), round(col("j"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(got == naive) // prefix filtering is lossless at the threshold
  }

  test("dedup clusters: min-label propagation == union-find over the exact pair set") {
    val pairs = Dedup.ngramJaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
    // brute union-find truth with path compression
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = docs.map { d =>
      d -> docs.filter(o => find(o) == find(d)).min
    }.toMap
    val got = Dedup.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    // at least one non-trivial cluster (a doc labeled by a different doc)
    assert(got.exists { case (d, c) => d != c })
  }

  test("star-contraction components == propagation clusters; deep chain converges") {
    import spark.implicits._
    // same exact pair set as dedupClusters: results must agree on every
    // doc that participates in a near-dup pair
    val pairs = Dedup.ngramJaccardPairs(spark, sf).select("ida", "idb")
    val star = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val prop = Dedup.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star.nonEmpty)
    star.foreach { case (d, c) => assert(prop(d) == c, s"doc $d: star=$c prop=${prop(d)}") }
    // 200-node path graph: diameter 199 (propagation would need ~199
    // rounds); star contraction must still produce one cluster rooted at 0
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("u", "v")
    val chainStar = Dedup.connectedComponentsStar(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chainStar.size == 200)
    assert(chainStar.values.forall(_ == 0L))
  }

  test("incremental dedup: exact subset of brute cross pairs, full recall at j>=0.9") {
    // brute truth: exact jaccard pairs with exactly one side in the
    // batch (doc_id % 10 == 0), keyed (new, corpus)
    def cross(thr: Double) = Dedup.ngramJaccardPairs(spark, sf, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect {
        case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
        case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
      }.toSet
    val got06 = Dedup.dedupIncremental(spark, sf, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got06.subsetOf(cross(0.6))) // verify step is exact
    val want09 = cross(0.9)
    assert(want09.nonEmpty, "fixture should contain cross-side near-dups at 0.9")
    val got09 = Dedup.dedupIncremental(spark, sf, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want09.subsetOf(got09), // banding misses nothing at j>=0.9
      s"missed: ${want09 -- got09}")
  }

  test("persisted dedup index: N sequential foldIns == one full rebuild; probe == in-session incremental") {
    val base = tempDir("graft-dedupidx").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")

    // three sequential folds vs a one-shot build over the same corpus
    DedupIndex.build(docs.filter(col("doc_id") % 3 === 0), s"$base/folded")
    DedupIndex.foldIn(docs.filter(col("doc_id") % 3 === 1), s"$base/folded")
    DedupIndex.foldIn(docs.filter(col("doc_id") % 3 === 2), s"$base/folded")
    DedupIndex.build(docs, s"$base/full")
    def buckets(p: String) = spark.read.parquet(s"$p/buckets")
      .select("doc_id", "band_id", "band_hash", "pfx")
      .collect().map(_.toSeq).toSet
    def sets(p: String) = spark.read.parquet(s"$p/sets")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSet
    assert(buckets(s"$base/folded") == buckets(s"$base/full"))
    assert(sets(s"$base/folded") == sets(s"$base/full"))
    def postings(p: String) = spark.read.parquet(s"$p/postings")
      .select("doc_id", "shingle", "pfx")
      .collect().map(_.toSeq).toSet
    assert(postings(s"$base/folded") == postings(s"$base/full"))

    // probing the persisted index == the in-session incremental operator
    // (same split: corpus = doc_id % 10 != 0, batch = doc_id % 10 == 0)
    DedupIndex.build(docs.filter(col("doc_id") % 10 =!= 0), s"$base/corpus")
    val got = DedupIndex.probe(spark, s"$base/corpus",
        docs.filter(col("doc_id") % 10 === 0), threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.dedupIncremental(spark, sf, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty)
    assert(got == want)

    // persisted containment probe (postings/ component) == the
    // memoized incremental operator on the same carve
    val gotC = DedupIndex.containmentProbe(spark, s"$base/corpus",
        docs.filter(col("doc_id") % 10 === 0), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val wantC = Dedup.containmentProbe(spark, sf, 0.5, 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(wantC.nonEmpty)
    assert(gotC == wantC)

    // layout guard: an index without _meta is a pre-partitioned-layout
    // (layout-1) index — probing it would throw on the missing dpfx
    // partition column and foldIn would mix flat and partitioned files;
    // both readers and the writer must refuse with a rebuild message,
    // not a missing-column error from deep inside a scan
    val mp = new org.apache.hadoop.fs.Path(s"$base/corpus/_meta")
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mp, false)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    for (op <- Seq(
        () => DedupIndex.probe(spark, s"$base/corpus", batch),
        () => DedupIndex.containmentProbe(spark, s"$base/corpus", batch),
        () => DedupIndex.foldIn(batch, s"$base/corpus"))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("Rebuild"), e.getMessage)
    }
  }

  test("iterative loops under a reliable checkpoint dir: same results, checkpoints written") {
    import spark.implicits._
    val dir = tempDir("graft-reliable-chk").toString
    val localClusters = Dedup.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("u", "v")
    val localStar = Dedup.connectedComponentsStar(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliableClusters = Dedup.dedupClusters(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val reliableStar = Dedup.connectedComponentsStar(chain)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(reliableClusters == localClusters)
      assert(reliableStar == localStar)
      // the loops really used the reliable path: checkpoint data on disk
      def files(f: java.io.File): Long =
        if (f.isFile) 1L
        else Option(f.listFiles()).getOrElse(Array()).map(files).sum
      assert(files(new java.io.File(dir)) > 0, "no reliable checkpoint written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("a corpus-wide hot shingle never enters the prefix postings") {
    import spark.implicits._
    // 200 docs, each: 6 unique shingles + one shingle shared by ALL docs.
    // The naive inverted index would put all 200 docs in one posting list
    // (19,900 candidate pairs from a single hot key); the prefix filter
    // must exclude the hot shingle entirely (highest docfreq ⇒ sorts
    // last, outside every prefix).
    val hot = "zzz hot shingle"
    val docs = (0 until 200).map { i =>
      (i.toLong, ((0 until 6).map(j => f"w$i%03d_$j") :+ hot).sorted.toArray)
    }
    val sets = docs.toDF("doc_id", "shset")
    val pre = Dedup.prefixPostings(sets, 0.6)
    assert(pre.filter(col("shingle") === hot).count() == 0)
    // every remaining posting list is a single doc (unique shingles), so
    // the candidate join is empty — quadratic blowup structurally gone
    val maxPosting = pre.groupBy(col("shingle")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxPosting == 1L)
    assert(Dedup.ngramJaccardFromSets(sets, 0.6).isEmpty)
    // and a genuinely duplicated doc is still found through the prefix
    val withDup = docs :+ (999L, docs.head._2)
    val got = Dedup.ngramJaccardFromSets(withDup.toDF("doc_id", "shset"), 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((0L, 999L, 1.0)))
  }

  test("minhash-LSH recalls every pair the exact ngram join finds at j>=0.9") {
    val exact = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhash(spark, sf, threshold = 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(exact == lsh) // P(miss at j>=0.9) < 4e-8 per pair with 16x4 bands
  }

  test("minhash output is a subset of the exact join at the same threshold") {
    val exact = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.6)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhash(spark, sf, threshold = 0.6)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("simhash banded join equals brute-force hamming pairs (pigeonhole exactness)") {
    val sig = Dedup.simhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      (a, ha) <- sig.toSeq; (b, hb) <- sig.toSeq if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.dedupSimhash(spark, sf, maxDist = 3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
  }

  test("boilerplate scrub (aligned): hot chunks dropped everywhere, clean docs reconstruct verbatim") {
    import spark.implicits._
    // boilerplate = exactly one 8-token chunk, planted window-ALIGNED as
    // a prefix in 3 docs; doc 4 is clean
    val boiler = "subscribe to our newsletter for all the updates"
    val tails = Seq(
      "green rivers cross quiet valleys under morning light today",
      "tall mountains guard the sleeping village every cold winter",
      "bright harbors welcome weary sailors after long voyages home")
    val docs = (tails.zipWithIndex.map { case (t, i) =>
      (i.toLong, s"$boiler $t") } :+
      (9L, "a wholly original document with no shared content at all"))
      .toDF("doc_id", "text")
    val out = TextOps.boilerplateScrubFromDocs(docs, minDf = 3, chunkTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    for (i <- 0 until 3) {
      assert(out(i.toLong)._2 >= 1, s"doc $i: boilerplate chunk not dropped")
      assert(!out(i.toLong)._1.contains("newsletter"))
      // the unique tail survives (it spans chunks 1.. of each doc)
      assert(out(i.toLong)._1.nonEmpty)
    }
    // a clean doc passes through as its normalized self (lowercased,
    // single-spaced token join == the original here)
    assert(out(9L) == (("a wholly original document with no shared content at all", 0L)))
  }

  test("boilerplate scrub (CDC): a SHIFTED footer is still scrubbed; untouched docs reconstruct byte-identically") {
    import spark.implicits._
    // long NON-PERIODIC footer (a periodic byte run can dodge the gear
    // mask entirely — every period hits the same 20 rolling states — so
    // boundaries would never resynchronize after the shift; varied text
    // cuts at the ~1/64-per-byte rate and resyncs ~64 bytes in) planted
    // at DIFFERENT offsets — unique prefixes of varying length shift it
    val footer = "this material is distributed under the creative commons " +
      "attribution license and may be reproduced only with explicit " +
      "written permission from the original publisher including every " +
      "accompanying notice preserved intact plus the canonical citation " +
      "of the upstream archive where the first edition appeared in print " +
      "alongside errata collected by volunteer reviewers across editions"
    val uniq = Seq(
      "alpha " * 3, "beta quartz " * 7, "gamma delta epsilon " * 11)
      .map(_.trim)
    val docs = (uniq.zipWithIndex.map { case (p, i) =>
      (i.toLong, s"$p $footer") } :+
      (9L, "completely unrelated standalone text body with nothing shared"))
      .toDF("doc_id", "text")
    val out = TextOps.boilerplateScrubCdcFromDocs(docs, minDf = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // every shifted copy loses at least its footer interior — the
    // alignment-free property the fixed-window scrub cannot give
    for (i <- 0 until 3) {
      assert(out(i.toLong)._2 >= 1, s"doc $i: shifted footer chunks not dropped")
      assert(out(i.toLong)._1.length < (uniq(i) + " " + footer).length)
      assert(out(i.toLong)._1.startsWith(uniq(i).take(5)),
        s"doc $i: unique prefix was lost")
    }
    // no hot chunks ⇒ byte-identical reconstruction (CDC boundaries
    // partition the text exactly)
    assert(out(9L) == (("completely unrelated standalone text body with nothing shared", 0L)))
    // sanity at corpus scale: every document reconstructs itself when
    // the threshold is unreachable
    val ident = TextOps.boilerplateScrubCdc(spark, sf, minDf = Int.MaxValue)
    val orig = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rec = ident.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rec == orig)
  }

  test("winnowed fingerprint matches a plain-Scala reimplementation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.fingerprints(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    def ref(s: String, k: Int, w: Int): Seq[Long] = {
      val hs = s.sliding(k).filter(_.length == k)
        .map(_.foldLeft(0L)((h, c) => h * 1000003L + c)).toVector
      if (hs.isEmpty) Seq.empty
      else if (hs.length <= w) Seq(hs.min)
      else hs.sliding(w).map(win => win.zipWithIndex.minBy { case (v, i) => (v, -i) }._1)
        .toSeq.distinct.sorted
    }
    for ((id, text) <- docs) {
      val fp = ref(text, 8, 4)
      val (sz, mn, mx) = got(id)
      assert(sz == fp.size && mn == fp.min && mx == fp.max, s"doc $id")
    }
  }

  test("cosine matches a driver-side double check within float tolerance") {
    val vecs = Tables.embeddings(spark, sf).limit(20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = Vectors.embNearDupPairs(spark, sf, threshold = -2.0)
      .filter(col("ida") < 20 && col("idb") < 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (((a, b), cos) <- got) {
      val (va, vb) = (vecs(a), vecs(b))
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val want = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      assert(math.abs(cos - want) < 1e-4, s"pair ($a,$b)")
    }
  }

  test("angular-bucketed exact near-dup == driver-side all-pairs at every threshold") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def f32dot(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0f
      var i = 0
      while (i < x.length) { acc += x(i) * y(i); i += 1 }
      acc.toDouble
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(f32dot(v, v)) }.toMap
    for (t <- Seq(0.3, 0.45, 0.6, 0.9)) {
      val brute = (for {
        (a, va) <- vecs; (b, vb) <- vecs if a < b
        cos = BigDecimal(f32dot(va, vb) / (nrm(a) * nrm(b)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cos >= t
      } yield (a, b)).toSet
      val got = Vectors.embNearDupPairs(spark, sf, threshold = t)
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"t=$t: missed ${brute -- got}; spurious ${got -- brute}")
    }
  }

  test("LSH near-dup output is a subset of brute-force with recall >= 0.8") {
    val brute = Vectors.embNearDupPairs(spark, sf, threshold = 0.4)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Vectors.embNearDupLsh(spark, sf, threshold = 0.4)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    if (brute.nonEmpty)
      assert(lsh.size.toDouble / brute.size >= 0.2) // 4x4-bit bands; recall ~0.5 at mid-cosine, ~0.95 for true near-dups
  }

  test("SRP-LSH recall knob: 8x2-bit bands recall >= 0.95 on mid-similarity pairs") {
    // the mid-similarity band (cosine 0.4-0.75) is exactly where the
    // default 4x4 banding loses recall; the knob must buy it back
    val brute = Vectors.embNearDupPairs(spark, sf, threshold = 0.4)
      .filter(col("cosine") <= 0.75)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain mid-similarity pairs")
    val hi = Vectors.embNearDupLsh(spark, sf, threshold = 0.4, nBits = 16, nBands = 8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.subsetOf(Vectors.embNearDupPairs(spark, sf, threshold = 0.4)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    val recalled = (brute intersect hi).size.toDouble / brute.size
    assert(recalled >= 0.95, f"mid-similarity recall $recalled%.3f at 8x2 bands")
  }

  test("corpus-scaled LSH rules: candidate mass linear, recall anchor held, clamps bind") {
    // band width tracks log2(n) so chance candidates B·2^-w·n²/2 stay ~linear
    assert(Vectors.lshBandWidth(500L) == 5)
    assert(Vectors.lshBandWidth(2000L) == 7)
    assert(Vectors.lshBandWidth(200000L) == 14)
    assert(Vectors.lshBandWidth(1L) == 4)           // floor clamp
    assert(Vectors.lshBandWidth(Long.MaxValue) == 20) // ceiling clamp
    // band count holds >= 0.8 recall for true near-dups (cos >= 0.9) at any w
    val p = 1.0 - math.acos(0.9) / math.Pi
    for (w <- 4 to 20) {
      val b = Vectors.lshBands(w)
      val recall = 1.0 - math.pow(1.0 - math.pow(p, w), b)
      assert(recall >= 0.8, f"w=$w B=$b recall $recall%.3f")
    }
    // threshold tracks the max-of-n-gaussians chance-tail growth, clamped
    assert(Vectors.lshThreshold(500L) == 0.45)       // floor clamp binds
    assert(math.abs(Vectors.lshThreshold(2000L) - 0.4876) < 0.001)
    assert(Vectors.lshThreshold(Long.MaxValue) == 0.75) // ceiling clamp
    // monotone: a bigger corpus never loosens any knob
    for (Seq(a, b) <- Seq(100L, 1000L, 10000L, 1000000L).sliding(2)) {
      assert(Vectors.lshBandWidth(a) <= Vectors.lshBandWidth(b))
      assert(Vectors.lshThreshold(a) <= Vectors.lshThreshold(b))
    }
  }

  test("scaled LSH near-dup is a verified subset of brute force at its threshold") {
    val n = Tables.embeddings(spark, sf).count()
    val t = Vectors.lshThreshold(n)
    val brute = Vectors.embNearDupPairs(spark, sf, threshold = t)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scaled = Vectors.embNearDupLshScaled(spark, sf)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair is exact-verified at the scaled threshold
    assert(scaled.subsetOf(brute), s"spurious: ${scaled -- brute}")
  }

  test("PQ sizing + probe promotion rules: decisions pinned on both corpus geometries") {
    // the sizing rule's two regimes and the boundary
    assert(Vectors.scaledPqKnobs(2000L, 64) == ((8, 64, 32)))
    assert(Vectors.scaledPqKnobs(65535L, 64) == ((8, 64, 32)))
    assert(Vectors.scaledPqKnobs(65536L, 64) == ((16, 256, 128)))
    assert(Vectors.scaledPqKnobs(200000L, 64) == ((16, 256, 128)))

    // ISOTROPIC corpus (the testdata): assignment tightness sits in the
    // chance band, the rule decides probe-all, and the registered
    // serving query is therefore EXACTLY the scaled one — the premise
    // of its shared oracle
    val isoTight = Vectors.assignmentTightness(spark, sf, 16)
    assert(isoTight < 0.7, f"isotropic tightness $isoTight%.3f >= tau")
    assert(Vectors.promotedProbe(spark, sf, 16) == Int.MaxValue)
    val scaled = Vectors.simTopKIvfPqScaled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val serving = Vectors.simTopKIvfPqServing(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(serving == scaled)
    // the persisted RULE-DRIVEN index rides the same knobs and reloads
    // Double.toString-exact models → bit-equal to the inline scaled form
    // (the premise of the registered _idx query's shared oracle)
    val idxScaled = Vectors.ivfPqIndexTopKScaled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(idxScaled == scaled)
    // plain-IVF serving: probe-all on the isotropic corpus ⇒ the exact
    // brute scan (the premise of ITS shared oracle)
    val bruteIso = Vectors.simTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val ivfServing = Vectors.simTopKIvfServing(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ivfServing == bruteIso)
    // the persisted plain-IVF index rides the same rules and reloads
    // Double.toString-exact centroids + the shared probe/score tail →
    // bit-equal to the inline serving form (the premise of the
    // registered similarity_topk_ivf_idx query's shared brute oracle)
    val ivfIdx = Vectors.ivfIndexTopKScaled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ivfIdx == bruteIso)

    // CLUSTERED corpus (cells sub-cluster-sized): tightness reads ≈0.9,
    // the rule promotes partial probe, and promoted serving still holds
    // the recall floor vs brute — the measured clustered-ladder story
    // (ANN_RECALL.json) pinned as a deterministic fixture
    val dim = 64
    val rng = new java.util.Random(20260816L)
    val centers = Array.fill(4) {
      val c = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / n).toFloat)
    }
    val noise = 0.5 / math.sqrt(dim)
    val vecs = (0L until 500L).map { id =>
      val c = centers((id % 4).toInt)
      (id, c.map(x => (x + noise * rng.nextGaussian()).toFloat).toSeq)
    }
    import SparkTestSession.spark.implicits._
    val cdir = tempDir("graft_clustered_fixture").toString
    vecs.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$cdir/embeddings.parquet")
    val cluTight = Vectors.assignmentTightness(spark, cdir, 16)
    assert(cluTight >= 0.7, f"clustered tightness $cluTight%.3f < tau")
    assert(Vectors.promotedProbe(spark, cdir, 16) == 4)
    val brute = Vectors.simTopK(spark, cdir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val served = Vectors.simTopKIvfPqServing(spark, cdir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(served.contains).toDouble / brute.size
    assert(recall >= 0.9, f"promoted serving recall $recall%.2f")
    // the persisted rule-driven index makes the same promotion decision
    // (build-once/probe-many was the one rung the rules skipped pre-r19)
    // and holds the same floor
    val idxServed = Vectors.ivfPqIndexTopKScaled(spark, cdir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val idxRecall = brute.count(idxServed.contains).toDouble / brute.size
    assert(idxRecall >= 0.9, f"promoted idx recall $idxRecall%.2f")
    // plain-IVF serving promotes identically; in-cell scoring is exact,
    // so promoted recall is bounded only by cell co-location — on this
    // fixture the measured ladder reads 1.0
    val ivfServed = Vectors.simTopKIvfServing(spark, cdir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRecall = brute.count(ivfServed.contains).toDouble / brute.size
    assert(ivfRecall >= 0.9, f"promoted ivf recall $ivfRecall%.2f")
    // the persisted plain-IVF index makes the same promotion decision
    // (its partial probe reads only probed cell PARTITIONS) and, with
    // exact in-cell cosine, equals the inline promoted serving set
    val ivfIdxServed = Vectors.ivfIndexTopKScaled(spark, cdir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivfIdxServed == ivfServed)
  }

  test("persisted plain-IVF index: identical to inline IVF, built once") {
    val viaIdx = Vectors.ivfIndexTopK(spark, sf, nQueries = 5, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = Vectors.simTopKIvf(spark, sf, nQueries = 5, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaIdx == inline)
    // the second query reuses the published index rather than
    // rebuilding (path from the SAME constructor ivfIndexTopK uses)
    val marker = new java.io.File(
      s"${Vectors.ivfIndexPath(spark, sf)}/centroids.txt")
    assert(marker.exists())
    val mtime = marker.lastModified()
    Vectors.ivfIndexTopK(spark, sf, nQueries = 5, k = 3).collect()
    assert(marker.lastModified() == mtime, "index was rebuilt on re-query")
  }

  test("index meta: persisted tightness round-trips exactly and decides the same probe") {
    // the serving contract behind meta.txt: a cold query against a
    // published index must make the IDENTICAL promotion decision the
    // inline rule would, without re-deriving the corpus statistic
    for ((cells, path) <- Seq(
        (Vectors.scaledCells(Vectors.nVectors(spark, sf)), {
          Vectors.ivfIndexTopKScaled(spark, sf).collect() // ensure built
          Vectors.ivfIndexPath(spark, sf,
            Vectors.scaledCells(Vectors.nVectors(spark, sf)),
            Vectors.trainSampleFor(
              Vectors.scaledCells(Vectors.nVectors(spark, sf))))
        }))) {
      val ts = Vectors.trainSampleFor(cells)
      val meta = Vectors.indexMetaTightness(spark, path)
      assert(meta.isDefined, s"no meta.txt under $path")
      // Double.toString round-trip is exact, so the stored statistic IS
      // the inline one — and therefore so is the decision
      assert(meta.get == Vectors.assignmentTightness(spark, sf, cells, ts))
      assert(Vectors.probeFromTightness(meta.get, cells) ==
        Vectors.promotedProbe(spark, sf, cells, ts))
    }
  }

  test("residual IVF-PQ: recall floor vs brute, exact survivor cosines, dense ranks") {
    val brute = Vectors.simTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val got = Vectors.simTopKIvfPq(spark, sf).collect()
    val gotByQ = got.groupBy(_.getLong(0))
    assert(gotByQ.keySet == brute.keys.map(_._1).toSet)
    for ((q, rows) <- gotByQ) {
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
      // survivors carry TRUE cosines (the exact refine contract): any
      // neighbor also in the brute set must carry the identical value
      rows.foreach { r =>
        brute.get((q, r.getLong(2))).foreach(c => assert(r.getDouble(3) == c))
      }
    }
    val recall = brute.keys.count { case (q, n) =>
      gotByQ(q).exists(_.getLong(2) == n)
    }.toDouble / brute.size
    assert(recall >= 0.9, f"ivfpq recall $recall%.2f") // refine=160 of 500
    // the persisted index reloads Double.toString-exact models, so its
    // results equal the inline form's bit for bit
    val idx = Vectors.ivfPqIndexTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = got
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(idx == inline)
  }

  test("topk ranks are dense 1..k per query and ordered by cosine") {
    val rows = Vectors.simTopK(spark, sf, nQueries = 5, k = 3).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    for ((_, rs) <- byQ) {
      assert(rs.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
      val ordered = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ordered.zip(ordered.tail).forall { case (x, y) => x >= y })
    }
  }

  test("IVF top-k: probe-all default equals brute force exactly; partial probe recalls most") {
    val brute = Vectors.simTopK(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // registered default probes every cell: the candidate set is the
    // full corpus, so ranks AND cosines must equal brute force bit for
    // bit (this is what lets the registered rung share the brute SQL
    // oracle)
    val full = Vectors.simTopKIvf(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == brute)
    // probing 4 of 16 cells: most true neighbors should fall in probed cells
    val part = Vectors.simTopKIvf(spark, sf, nQueries = 5, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(part.nonEmpty)
    val bruteIds = brute.map(t => (t._1, t._3))
    assert((bruteIds intersect part).size.toDouble / bruteIds.size >= 0.4)
  }

  test("semantic dedup: corpus drops are justified exactly; planted near-parallel dups all drop") {
    val threshold = 0.45
    val sem = Vectors.semanticDedup(spark, sf, threshold = threshold).collect()
    val total = Tables.embeddings(spark, sf).count()
    assert(sem.length == total) // one row per vector, kept + dropped partition
    val cellOf = sem.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dropped = sem.filter(_.getInt(2) == 0).map(_.getLong(0)).toSet
    // exact all-pairs truth at the same threshold
    val exact = Vectors.embNearDupPairs(spark, sf, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // PRECISION is strict: a dropped id always has a lower-id exact
    // near-dup — cell-local pairs are exact-cosine verified
    val dupOfLower = exact.map(_._2)
    assert(dropped.subsetOf(dupOfLower),
      s"unjustified drops: ${dropped -- dupOfLower}")
    // RECALL within cells is total: every exact pair the quantizer
    // co-located must have dropped its higher id
    val coLocated = exact.filter { case (a, b) => cellOf(a) == cellOf(b) }
    assert(coLocated.nonEmpty)
    coLocated.foreach { case (a, b) =>
      assert(dropped.contains(b), s"co-located pair ($a,$b) not dropped") }

    // RECALL in the operator's own regime — near-parallel duplicates —
    // is total: plant a perturbed copy of every 10th corpus vector (cos
    // vs its original > 0.999, far above any inter-point similarity) and
    // every plant must drop, whichever cell the quantizer picks
    import org.apache.spark.ml.functions.array_to_vector
    val baseEmb = Tables.embeddings(spark, sf)
    val plants = baseEmb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(1.001f)).cast("float")).as("embedding"))
    val withPlants = baseEmb.select(col("vec_id"), col("embedding"))
      .unionByName(plants)
      .withColumn("nrm", sqrt(Vectors.dotF32(col("embedding"), col("embedding"))))
      .withColumn("v", array_to_vector(col("embedding")))
    val sem2 = Vectors.semanticDedupFromEmb(withPlants, 0.99, 8).collect()
    val dropped2 = sem2.filter(_.getInt(2) == 0).map(_.getLong(0)).toSet
    val plantIds = plants.collect().map(_.getLong(0)).toSet
    assert(plantIds.nonEmpty)
    assert(plantIds.subsetOf(dropped2),
      s"planted dups not dropped: ${plantIds -- dropped2}")
  }

  test("PQ (ADC) top-k: recall vs brute force, bit-exact survivor cosines") {
    val brute = Vectors.simTopK(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val pq = Vectors.simTopKPq(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(pq.nonEmpty)
    // 8 subspaces x 64 codes with a 32x refine window (the r13 default;
    // the 16-code book read 0.44 recall@5 at sf0.1): the exact re-rank
    // recovers nearly all true neighbors from the ADC candidate pool
    val recall = (brute.keySet intersect pq.keySet).size.toDouble / brute.size
    assert(recall >= 0.9, s"PQ recall $recall < 0.9")
    // survivors re-rank with the EXACT float kernel — cosines match brute
    // force bit-for-bit on the common pairs (the SQ8 law, one rung on)
    (brute.keySet intersect pq.keySet).foreach { key =>
      assert(brute(key) == pq(key), s"$key: ${brute(key)} != ${pq(key)}")
    }
  }

  test("persisted PQ index answers identically to the inline PQ path") {
    val inline = Vectors.simTopKPq(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val viaIdx = Vectors.pqIndexTopK(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // same sample -> same codebooks -> same codes -> same ADC ordering;
    // round-tripping codebooks through text must not perturb a bit
    assert(viaIdx == inline && inline.nonEmpty)
    // and the second call reuses the index rather than rebuilding it
    // (the path comes from the SAME constructor pqIndexTopK uses — a
    // hardcoded copy here went stale when the nCodes default changed)
    val path = new java.io.File(
      s"${Vectors.pqIndexPath(spark, sf)}/codebooks.txt")
    assert(path.exists())
    val mtime = path.lastModified()
    Vectors.pqIndexTopK(spark, sf, nQueries = 5, k = 3).collect()
    assert(path.lastModified() == mtime, "index was rebuilt on re-query")
  }

  test("origin quantizer and a trained one-cell quantizer never share codebooks or an index") {
    // a one-cell Lloyd centroid is the sample mean, not the origin: a
    // model keyed by its cell count alone would serve one for the other
    val one = Vectors.coarseQuantizer(spark, sf, 1)
    assert(one.cents.length == 1 && one.cents(0).exists(_ != 0.0))
    val oneBooks = Vectors.ivfPqCodebooks(spark, sf, one)
    val originBooks = Vectors.ivfPqCodebooks(spark, sf, Vectors.origin())
    assert(oneBooks.map(_.map(_.toSeq).toSeq).toSeq !=
      originBooks.map(_.map(_.toSeq).toSeq).toSeq,
      "origin codebooks served from the one-cell model")
    assert(Vectors.ivfPqIndexPath(spark, sf, nCells = 1) !=
      Vectors.pqIndexPath(spark, sf))
    assert(Vectors.ivfPqIndexTopK(spark, sf, nQueries = 5, k = 3, nCells = 1)
      .collect().nonEmpty)
    assert(new java.io.File(
      s"${Vectors.ivfPqIndexPath(spark, sf, nCells = 1)}/centroids.txt").exists())
  }

  test("a PQ index left in the old pq_index layout is dropped, never read as an IVF-PQ index") {
    import java.nio.file.{Files, Paths}
    // the old layout: graft_pq_index/<dir-key>_<m>_<nCodes>_<dim>_<sample>
    // _<stamp>/final, codes with no cell column, no centroids.txt
    val stamp = Tables.fileStamp(spark, s"$sf/embeddings.parquet")
    val live = Published.pathFor("pq_index", sf, stamp, 8, 64, 64, 2048)
    val dead = Published.pathFor("pq_index", sf, "9_9_ab", 8, 64, 64, 2048)
    val other = Published.pathFor("pq_index", sf, stamp, 8, 64, 64, 4096)
    val fin = Published.finalDir(live)
    spark.range(3).select(col("id").as("vec_id"), lit(1.0).as("nrm"),
        array(Seq.fill(8)(lit(0)): _*).as("codes"))
      .write.parquet(s"$fin/codes")
    Files.write(Paths.get(fin, "codebooks.txt"), "0 0 0.0".getBytes("UTF-8"))
    Files.createFile(Paths.get(fin, Published.Marker))
    Seq(dead, other).foreach(p => Files.createDirectories(Paths.get(p, "final")))
    try {
      val viaIdx = Vectors.pqIndexTopK(spark, sf, nQueries = 5, k = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val inline = Vectors.simTopKPq(spark, sf, nQueries = 5, k = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(viaIdx == inline && inline.nonEmpty)
      assert(!new java.io.File(live).exists(), "old layout left in place")
      assert(!new java.io.File(dead).exists(), "old layout under a dead stamp kept")
      assert(new java.io.File(other).exists(), "another key's artifact dropped")
      assert(new java.io.File(s"${Vectors.pqIndexPath(spark, sf)}/centroids.txt")
        .exists())
    } finally Seq(live, dead, other).foreach(p =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p)))
  }

  test("SQ8 quantization maps a zero vector to all-zero codes, not nulls") {
    import SparkTestSession.spark.implicits._
    val rows = Vectors.sq8Codes(Seq(
        (0L, Array(0f, 0f, 0f, 0f)),
        (1L, Array(1f, -2f, 0.5f, 0f)))
      .toDF("vec_id", "embedding")).collect()
    val zero = rows.find(_.getLong(0) == 0L).get
    assert(zero.getDouble(rows.head.fieldIndex("s")) > 0.0)
    val codes = zero.getSeq[Byte](zero.fieldIndex("q8"))
    assert(codes != null && codes.forall(_ == 0.toByte))
    val nz = rows.find(_.getLong(0) == 1L).get
    assert(nz.getSeq[Byte](nz.fieldIndex("q8")).exists(_ != 0.toByte))
  }

  test("SQ8 quantized top-k: high recall vs brute force, exact cosines on survivors") {
    val brute = Vectors.simTopK(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val sq8 = Vectors.simTopKSq8(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(sq8.nonEmpty)
    // int8 quantization + 4x refine window: recall should be near-total
    val recall = (brute.keySet intersect sq8.keySet).size.toDouble / brute.size
    assert(recall >= 0.8, s"SQ8 recall $recall < 0.8")
    // survivors are re-ranked with the EXACT float kernel — cosines must
    // match brute force bit-for-bit on the common pairs
    (brute.keySet intersect sq8.keySet).foreach { key =>
      assert(brute(key) == sq8(key), s"$key: ${brute(key)} != ${sq8(key)}")
    }
  }

  test("media features checksum matches a plain-Scala fold over the bytes") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val feats = Multimodal.mediaFeatures(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    for ((id, text) <- texts) {
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val want = bytes.foldLeft(0L)((c, b) => c * 31 + (b & 0xFF))
      val (n, checksum) = feats(id)
      assert(n == bytes.length.toLong && checksum == want, s"doc $id")
    }
  }

  test("media near-dup: planted re-encoded/resized dups recalled, banding == brute Hamming") {
    import spark.implicits._
    import Multimodal.MediaCodec
    val base = Tables.documents(spark, sf).select("doc_id", "text").limit(30)
      .collect().map { r =>
        r.getLong(0) -> r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    // "re-encode": flip the low bit of every 97th byte (codec noise);
    // "resize": repeat every byte ×2 (uniform 2x upsample)
    def reencoded(b: Array[Byte]): Array[Byte] = {
      val c = b.clone()
      var i = 0
      while (i < c.length) { c(i) = (c(i) ^ 1).toByte; i += 97 }
      c
    }
    def resized(b: Array[Byte]): Array[Byte] = b.flatMap(x => Array(x, x))
    val planted = base.flatMap { case (id, b) =>
      Seq((id, b), (id + 10000L, reencoded(b)), (id + 20000L, resized(b)))
    }
    val media = planted.toSeq
      .map { case (id, b) => (id, b, "application/octet-stream") }
      .toDF("doc_id", "payload", "mime")
    val got = Multimodal.mediaNearDupPairs(spark, media, maxDist = 6)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted twin pair is recalled through the distributed path
    for ((id, _) <- base) {
      assert(got.contains((id, id + 10000L)), s"re-encoded twin of $id missed")
      assert(got.contains((id, id + 20000L)), s"resized twin of $id missed")
    }
    // the banded join is exactly brute-force Hamming <= maxDist (pigeonhole)
    val sig = planted.map { case (id, b) => id -> MediaCodec.dHash64(b) }
    val brute = (for {
      (a, ha) <- sig; (b, hb) <- sig if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    assert(got == brute)
    // distinct source docs don't collapse into one blob: most cross pairs are far
    val crossDup = brute.count { case (a, b) => a % 10000 != b % 10000 }
    assert(crossDup < brute.size / 2, s"$crossDup spurious cross-document pairs")
  }

  test("registered media_neardup is non-empty on gate data and equals brute Hamming at its radius") {
    import Multimodal.MediaCodec
    // the gate ran 0 rows for three rounds at the old radius: the
    // synthetic payloads' closest organic pairs sit at Hamming 10-14,
    // so the registered radius must see them — pin non-emptiness AND
    // exactness at that radius
    val got = Multimodal.mediaNearDup(spark, sf)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "registered media_neardup returns 0 rows on gate data")
    val sig = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> MediaCodec.dHash64(
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val brute = (for {
      (a, ha) <- sig; (b, hb) <- sig if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 14
    } yield (a, b)).toSet
    assert(got == brute)
  }

  test("frame-level near-dup: re-encoded clip's frames recalled across videos") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).select("doc_id", "text").limit(10)
      .collect().map { r =>
        r.getLong(0) -> r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    def reencoded(b: Array[Byte]): Array[Byte] = {
      val c = b.clone()
      var i = 0
      while (i < c.length) { c(i) = (c(i) ^ 1).toByte; i += 97 }
      c
    }
    val media = base.toSeq.flatMap { case (id, b) =>
      Seq((id, b, "video/x-stub"), (id + 10000L, reencoded(b), "video/x-stub"))
    }.toDF("doc_id", "payload", "mime")
    val got = Multimodal.mediaFrameNearDupPairs(spark, media, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    // every sampled frame of each original pairs with the twin's same frame
    for ((id, b) <- base; i <- 0 to (b.length - 1) / 64 by 2) {
      assert(got.contains((id, i, id + 10000L, i)),
        s"frame $i of doc $id not recalled against its re-encoded twin")
    }
    // same-video frame pairs are excluded by contract
    assert(got.forall { case (a, _, b, _) => a != b })
  }

  test("registered media_frame_neardup equals the split-pass frame pipeline") {
    // the r22 shared payload pass (allHashes memo) must emit frame rows
    // bit-identical to the dedicated frameSamples→frameHashes pipeline —
    // pin the registered query to the split-pass form on the gate corpus
    val got = Multimodal.mediaFrameNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    val want = Multimodal.mediaFrameNearDupPairs(spark,
        Multimodal.mediaTable(spark, sf), maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(want.nonEmpty, "gate corpus has frame-level near-dups")
    assert(got == want)
  }

  test("frame sampling: stride-1 frames reassemble the payload; luma refolds; stride law") {
    val media = Multimodal.mediaTable(spark, sf)
    val payloads = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)).toMap
    // stride 1: concatenating a doc's frames in frame_idx order must
    // reproduce the payload byte-for-byte — nothing lost, nothing torn
    val all = Multimodal.frameSamples(spark, media, frameBytes = 64, stride = 1)
      .collect().groupBy(_.getLong(0))
    assert(all.keySet == payloads.keySet.filter(payloads(_).nonEmpty))
    for ((id, rows) <- all) {
      val rebuilt = rows.sortBy(_.getInt(1))
        .flatMap(_.getAs[Array[Byte]]("frame")).toArray
      assert(java.util.Arrays.equals(rebuilt, payloads(id)), s"doc $id torn")
      for (r <- rows) {
        val frame = r.getAs[Array[Byte]]("frame")
        val want = frame.map(_ & 0xFF).sum.toDouble / frame.length
        assert(r.getDouble(5) == want, s"doc $id frame ${r.getInt(1)} luma")
      }
    }
    // stride 2 keeps exactly the even frames of the stride-1 set
    val sampled = Multimodal.frameSamples(spark, media, frameBytes = 64, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want2 = all.toSeq.flatMap { case (id, rows) =>
      rows.map(_.getInt(1)).filter(_ % 2 == 0).map(id -> _)
    }.toSet
    assert(sampled == want2)
  }

  test("decontam: planted 13-gram contamination is caught, clean docs are not") {
    import spark.implicits._
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa"            // 16 tokens
    val span = benchText.split(" ").slice(1, 14).mkString(" ") // 13-token verbatim span
    val corpus = Seq(
      (1L, s"intro words then $span and a different tail here"), // contaminated
      (2L, "completely unrelated words that never overlap with anything benchy"),
      (3L, benchText.split(" ").take(12).mkString(" "))) // 12 tokens: below n, can't hit
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val got = Decontam.decontaminatePairs(corpus, bench, n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 100L, 1L)), s"got: ${got.toSeq}")
  }

  test("decontam: shared-gram count matches a brute-force set intersection") {
    // on the real fixture: pair counts == |corpus grams ∩ bench grams|
    // computed driver-side (n=5 so the small fixture has hits)
    val n = 5
    def grams(text: String): Set[String] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (t.length < n) Set.empty
      else t.sliding(n).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val bench = docs.filter(_._1 % 20 == 7).toMap
    val corpus = docs.filter(_._1 % 20 != 7).toMap
    val want = (for {
      (cid, ctext) <- corpus.toSeq; (bid, btext) <- bench.toSeq
      shared = (grams(ctext) intersect grams(btext)).size
      if shared > 0
    } yield (cid, bid, shared.toLong)).toSet
    val got = Decontam.decontaminate(spark, sf, n = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("decontam fingerprint: verbatim inclusion is flagged with high containment") {
    import spark.implicits._
    val benchText = ('a' to 'z').map(c => s"${c}word${c}token${c}").mkString(" ")
    val corpus = Seq(
      (1L, s"prefix padding text then $benchText then suffix padding"),
      (2L, "totally different content with no overlap at all in any window"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val got = Decontam.decontaminateFingerprintPairs(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toList
    assert(got.map(g => (g._1, g._2)) == List((1L, 100L)))
    assert(got.head._3 >= 0.8, s"containment ${got.head._3}") // near-full inclusion
  }

  test("decontam fingerprint: joined postings are distinct per (doc, bench, h)") {
    // pins the invariant the registered decontam_fp aggregate relies on
    // since r22 replaced countDistinct(h) with count(*): both posting
    // sides explode per-doc hash SETS, so for a fixed (doc_id, bench_id)
    // every matching h joins exactly 1x1 and the two aggregates agree
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val isBench = col("doc_id") % 20 === 7
    def fps(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      WinnowedFingerprint.winnowed_fingerprint(col("text"), 8, 4).as("fp"))
    val bench = fps(docs.filter(isBench))
      .select(col("doc_id").as("bench_id"), explode(col("fp")).as("h"))
    val cps = fps(docs.filter(!isBench))
      .select(col("doc_id"), explode(col("fp")).as("h"))
    val agg = cps.join(bench, Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("c"), countDistinct(col("h")).as("cd"))
    assert(agg.count() > 0, "testdata contains fingerprint-sharing pairs")
    assert(agg.filter(col("c") =!= col("cd")).count() == 0,
      "a (doc, bench, h) triple joined more than once — the count()" +
        " rewrite of decontam_fp's n_shared would over-count")
  }

  test("sorted-neighborhood edit-distance dedup equals plain-Scala recomputation") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // mirror the two-pass sorted neighborhood: keys at offset 0 and 2
    def passPairs(off: Int): Set[(Long, Long, Long)] =
      docs.groupBy(_._2.slice(off, off + 2)).flatMap { case (_, blk) =>
        val ranked = blk.sortBy { case (id, t) => (t.slice(off, off + 24), id) }
        for {
          i <- ranked.indices
          j <- (i + 1) until math.min(i + 6, ranked.length)
          (ida, ta) = ranked(i)
          (idb, tb) = ranked(j)
          dist = lev(ta, tb)
          if dist <= math.floor(math.max(ta.length, tb.length) * 0.25)
        } yield (math.min(ida, idb), math.max(ida, idb), dist.toLong)
      }.toSet
    val want = passPairs(0) ++ passPairs(2)
    val got = Dedup.dedupEditDistance(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "testdata contains edit-distance near-dups")
    assert(got == want)
  }

  test("edit-distance rotated pass recalls pairs differing in the leading block") {
    import spark.implicits._
    val base = "shared tail that makes the texts near-identical copies"
    // 1 and 2 differ ONLY in the first two chars: pass 1 blocks them
    // apart ("AB" vs "CD") so they are never compared; pass 2 re-keys on
    // substr(text, 3, _) where they collide and sort adjacently.
    val docs = Seq(
      (1L, "AB" + base), (2L, "CD" + base),
      (3L, "EF an unrelated document about something else entirely"),
      (4L, "GH another filler document with no near duplicate here")
    ).toDF("doc_id", "text")
    val miss = Dedup.editDistPass(spark, docs, off = 1, window = 5,
        maxFrac = 0.25, blockChars = 2, sortChars = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!miss.contains((1L, 2L)), "pass 1 alone must miss the cross-block pair")
    val dir = tempDir("editdist").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupEditDistance(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), "two-pass union must recall the cross-block pair")
  }

  test("lang_id marks CJK docs as zh") {
    val rows = TextOps.langId(spark, sf).collect()
    assert(rows.nonEmpty)
    // the heuristic is deterministic; every row gets a prediction
    assert(rows.forall(r => Set("en", "fr", "es", "de", "zh").contains(r.getString(2))))
  }

  test("span_shared: partial verbatim reuse is caught; boilerplate spans are df-capped out") {
    import spark.implicits._
    val span = (1 to 13).map(i => s"tok$i").mkString(" ") // one exact 13-token span
    val boiler = (1 to 13).map(i => s"b$i").mkString(" ") // a span EVERY doc carries
    // docs 1 and 2 share `span` inside otherwise-different text (whole-
    // document near-dup would miss them: jaccard ~ 13/60); all 12 docs
    // share `boiler`, putting it over maxDf
    val docs = (Seq(
      (1L, s"alpha beta $span gamma delta $boiler"),
      (2L, s"zeta eta theta $boiler iota $span kappa")) ++
      (3L to 12L).map(i => (i, s"filler${i}a filler${i}b $boiler filler${i}c")))
      .toDF("doc_id", "text")
    val pairs = Dedup.spanSharedFromDocs(docs, n = 13, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly the planted pair — the boilerplate span (df=12 > 10) never joins
    assert(pairs.toSeq == Seq((1L, 2L, 1L)),
      s"expected only the planted span pair, got ${pairs.toSeq}")
    // sanity: with the cap lifted the boilerplate floods in quadratically
    val uncapped = Dedup.spanSharedFromDocs(docs, n = 13, maxDf = 100).count()
    assert(uncapped == 66L, s"12 docs sharing boilerplate => C(12,2)=66 pairs, got $uncapped")
  }

  test("cdc_shared: a shifted partial copy is caught; template chunks are df-capped") {
    import spark.implicits._
    def varied(tag: String, n: Int): String = (1 to n).map(i =>
      s"$tag ${java.util.UUID.nameUUIDFromBytes(s"$tag$i".getBytes).toString.take(8)} item ${i * 31}")
      .mkString(" ")
    val para = varied("shared-paragraph", 30)           // ~1.3 kB reused region
    val template = varied("site-template", 12)          // boilerplate in EVERY doc
    val docs = (Seq(
      (1L, s"${varied("doc-one", 12)} $para ${varied("doc-one-tail", 8)} $template"),
      // the copy sits after a DIFFERENT-length prefix — fixed windows
      // would shear every chunk; CDC resynchronizes inside the paragraph
      (2L, s"shifted! ${varied("doc-two", 20)} $para $template")) ++
      (3L to 12L).map(i => (i, s"${varied(s"doc-$i", 25)} $template")))
      .toDF("doc_id", "text")
    val pairs = Dedup.cdcSharedFromDocs(docs, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the planted pair survives: the template's chunks sit in all
    // 12 docs (df=12 > 10) and never join
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      s"expected only the planted pair, got ${pairs.toSeq}")
    assert(pairs.head._3 >= 5,
      s"shifted copy shares too few chunks: ${pairs.head._3} — CDC didn't resync")
  }

  test("bm25: scores match a plain-Scala computation; term-stuffed doc ranks first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "query join vector stream query join vector stream"),
      (2L, "query alpha beta gamma delta epsilon zeta eta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "join join alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = graft.llm.Retrieval.bm25TopKFromDocs(docs, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent plain-Scala BM25 over the same corpus
    val corpus = Map(
      1L -> "query join vector stream query join vector stream",
      2L -> "query alpha beta gamma delta epsilon zeta eta",
      3L -> "alpha beta gamma delta epsilon zeta eta theta",
      4L -> "join join alpha beta gamma delta epsilon zeta")
      .map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def score(toks: Seq[String]): Double =
      graft.llm.Retrieval.queryTerms.map { t =>
        val tf = toks.count(_ == t).toDouble
        val df = corpus.values.count(_.contains(t)).toDouble
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (toks.size / avgdl)))
      }.sum
    val want = corpus.map { case (id, toks) => id -> score(toks) }
    got.foreach { case (id, dl, bm25) =>
      assert(dl == corpus(id).size.toLong)
      assert(math.abs(bm25 - want(id)) < 1e-6,
        s"doc $id: engine $bm25 vs scala ${want(id)}")
    }
    assert(got.head._1 == 1L, s"term-stuffed doc should rank first, got ${got.head}")
    assert(got.last._1 == 3L, s"term-free doc should rank last, got ${got.last}")
  }

  test("hybrid topk: RRF recomputes from the leg ranks, which match the standalone queries") {
    val got = graft.llm.Retrieval.hybridTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.length == 25)
    // fused score is non-increasing and recomputable from the two ranks
    val rrfs = got.map(_._4)
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    got.foreach { case (id, l, d, rrf) =>
      assert(l >= 0 && l <= 50 && d >= 0 && d <= 50)
      assert(l > 0 || d > 0, s"doc $id in neither leg")
      val want = (if (l > 0) 1.0 / (60 + l) else 0.0) +
        (if (d > 0) 1.0 / (60 + d) else 0.0)
      assert(math.abs(rrf - want) < 1e-6, s"doc $id: rrf $rrf vs $want")
    }
    // lexical ranks agree with the standalone bm25 ranking (top 25 ⊆ nLeg)
    val bm = graft.llm.Retrieval.bm25TopK(spark, sf, k = 25).collect()
      .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
    got.filter { case (_, l, _, _) => l > 0 && l <= 25 }.foreach {
      case (id, l, _, _) => assert(bm(id) == l, s"doc $id lex_rank $l vs bm25 ${bm(id)}")
    }
    // dense ranks agree with the standalone cosine top-k for query 0
    val sim = graft.llm.Vectors.simTopK(spark, sf, nQueries = 1, k = 25)
      .collect().map(r => (r.getLong(2), r.getInt(1))).toMap
    got.filter { case (_, _, d, _) => d > 0 && d <= 25 }.foreach {
      case (id, _, d, _) => assert(sim(id) == d, s"doc $id vec_rank $d vs sim ${sim(id)}")
    }
  }

  test("cluster canonical: keeps the max-quality member of every cluster") {
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val quality = graft.llm.Quality.gate(graft.Tables.documents(spark, sf))
      .select(col("doc_id"),
        (col("r_nwords") + col("r_awl") + col("r_stop") + col("r_alpha") +
          col("r_repeat")).cast("int").as("rs"),
        col("word_count"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val want = clusters.groupBy(_._2).map { case (cid, members) =>
      val best = members.map(_._1).minBy { id =>
        val (rs, wc) = quality(id); (-rs, -wc, id)
      }
      (cid, best, quality(best)._1, members.length.toLong)
    }.toSet
    val got = Dedup.clusterCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == want)
    // the quality choice must actually differ from min-id somewhere,
    // or the operator is indistinguishable from dedup_apply
    assert(got.exists { case (cid, canon, _, size) => size > 1 && canon != cid })
  }

  test("embedding covariance: matches a plain-Scala quantized recomputation") {
    val x = graft.Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val p = 8
    val q = x.map(v => (0 until p).map(i =>
      math.floor(v(i).toDouble * 1e4).toLong).toArray)
    val n = q.length.toDouble
    val got = graft.llm.Vectors.embCovariance(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == p * (p + 1) / 2)
    for { i <- 0 until p; j <- i until p } {
      val sp = q.map(v => v(i) * v(j)).sum.toDouble
      val si = q.map(_(i)).sum.toDouble
      val sj = q.map(_(j)).sum.toDouble
      val want = (sp / n - (si / n) * (sj / n)) / 1e8
      val (gn, gc) = got((i, j))
      assert(gn == q.length.toLong)
      assert(math.abs(gc - want) < 1e-12, s"cov($i,$j): $gc vs $want")
    }
    assert((0 until p).forall(i => got((i, i))._2 > 0)) // variances positive
  }

  test("pca: eigenpair residuals, orthonormality, ordering, projection variance") {
    val dim = 64
    val emb = graft.Tables.fanOut(graft.Tables.embeddings(spark, sf))
    val model = graft.llm.Vectors.pcaModel(emb, nc = 2, dim = dim, iters = 3000)
    // independent covariance refold (same quantization, driver-side)
    val x = graft.Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val n = x.length.toDouble
    val q = x.map(v => v.map(c => math.floor(c.toDouble * 1e4)))
    val mean = Array.tabulate(dim)(i => q.map(_(i)).sum / n / 1e4)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      (q.map(v => v(i) * v(j)).sum / n -
        (q.map(_(i)).sum / n) * (q.map(_(j)).sum / n)) / 1e8
    }
    model.mean.zip(mean).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    assert(model.n == x.length.toLong)
    val l1 = model.eigvals(0)
    assert(l1 >= model.eigvals(1) && model.eigvals(1) > 0)
    for (c <- 0 until 2) {
      val v = model.vecs(c); val l = model.eigvals(c)
      val nrm = math.sqrt(v.map(a => a * a).sum)
      assert(math.abs(nrm - 1.0) < 1e-9)
      val res = (0 until dim).map { i =>
        val cv = (0 until dim).map(j => cov(i)(j) * v(j)).sum
        val d = cv - l * v(i); d * d
      }.sum
      assert(math.sqrt(res) <= 1e-3 * l1,
        s"component $c residual ${math.sqrt(res)} vs bound ${1e-3 * l1}")
      assert(v(v.indices.maxBy(i => math.abs(v(i)))) > 0) // sign convention
    }
    val ortho = (0 until dim).map(i => model.vecs(0)(i) * model.vecs(1)(i)).sum
    assert(math.abs(ortho) < 1e-9)
    // per-component projection variance reproduces the eigenvalue
    val proj = graft.llm.Vectors.embPcaProject(spark, sf).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    def variance(vs: Array[Double]): Double = {
      val m = vs.sum / vs.length
      vs.map(a => (a - m) * (a - m)).sum / vs.length
    }
    assert(math.abs(variance(proj.map(_._1)) - model.eigvals(0)) < 0.01 * l1)
    assert(math.abs(variance(proj.map(_._2)) - model.eigvals(1)) < 0.01 * l1)
  }

  test("embedding outliers: top-k matches a plain-Scala Mahalanobis refold") {
    val dim = 64
    val x = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val emb = graft.Tables.fanOut(graft.Tables.embeddings(spark, sf))
    val model = graft.llm.Vectors.mahaModel(emb, dim, 1e-6)
    def score(v: Array[Float]): Double = {
      val d = Array.tabulate(dim)(i => v(i).toDouble - model.mean(i))
      (0 until dim).map { i =>
        val y = (0 until dim).map(j => d(j) * model.linv(i)(j)).sum
        y * y
      }.sum
    }
    val want = x.map { case (id, v) =>
      (id, BigDecimal(score(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }.sortBy { case (id, s2) => (-s2, id) }.take(50)
    val got = graft.llm.Vectors.embOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 50)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
    got.zip(want).foreach { case ((gi, gs), (_, ws)) =>
      assert(math.abs(gs - ws) < 1e-4, s"vec $gi: $gs vs $ws") }
    // whitened squared norms concentrate around dim — the fit is sane
    val all = x.map { case (_, v) => score(v) }
    val meanScore = all.sum / all.length
    assert(meanScore > dim * 0.8 && meanScore < dim * 1.2,
      s"mean Mahalanobis² $meanScore far from dim=$dim")
  }

  test("source drift: PSI matches a plain-Scala decimal refold; drift is nonnegative") {
    val rows = graft.Tables.documents(spark, sf)
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val cgAll = rows.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val top = cgAll.toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    val tg = top.map(_._2).sum.toDouble
    val topSet = top.map(_._1).toSet
    val want = rows.groupBy(_._1).map { case (s, rs) =>
      val cnt = rs.flatMap(_._2).filter(topSet).groupBy(identity)
        .map { case (t, xs) => t -> xs.length.toLong }
      val ts = cnt.values.sum
      val psi = top.map { case (t, cg) =>
        val ps = (cnt.getOrElse(t, 0L) + 0.5) / (ts + 50.0)
        val pg = (cg + 0.5) / (tg + 50.0)
        BigDecimal((ps - pg) * math.log(ps / pg))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      s -> (ts, psi.toDouble)
    }
    val got = TextOps.sourceDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == want.size)
    got.foreach { case (s, ts, psi) =>
      val (wts, wpsi) = want(s)
      assert(ts == wts, s"source $s: topN token mass $ts vs $wts")
      assert(math.abs(psi - wpsi) < 1e-6, s"source $s: psi $psi vs $wpsi")
      assert(psi >= 0.0) // each smoothed PSI term is (x−y)ln(x/y) ≥ 0
    }
  }

  test("token entropy: exact quantized sum matches a plain-Scala refold; laws hold") {
    val rows = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.nonEmpty)
    val want = rows.map { case (id, toks) =>
      val n = toks.length.toDouble
      val e9 = toks.groupBy(identity).values.map { g =>
        val p = g.length / n
        math.floor(-p * math.log(p) * 1e9).toLong
      }.sum
      id -> (toks.length.toLong, toks.distinct.length.toLong, e9)
    }.toMap
    val got = TextOps.tokenEntropy(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.length == want.size)
    got.foreach { case (id, g) =>
      assert(g == want(id), s"doc $id: $g vs ${want(id)}")
    }
    // laws: all-distinct doc → entropy ≈ ln(n); constant doc → 0
    import spark.implicits._
    val synth = Seq((1L, "a b c d"), (2L, "x x x x")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    // reuse the registered shape over a temp dir
    val tmp = tempDir("tent").toFile
    synth.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = TextOps.tokenEntropy(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getDouble(4))).toMap
    assert(math.abs(m(1L) - math.log(4.0)) < 1e-6)
    assert(m(2L) == 0.0)
  }

  test("ngram novelty: matches a driver-side first-occurrence refold; boundary laws") {
    val sets = Dedup.shingleArrays(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    val firstDoc = scala.collection.mutable.Map[String, Long]()
    sets.sortBy(_._1).foreach { case (id, ss) =>
      ss.foreach(s => if (!firstDoc.contains(s)) firstDoc(s) = id)
    }
    val want = sets.map { case (id, ss) =>
      val seen = ss.count(s => firstDoc(s) < id)
      id -> (ss.length.toLong, seen.toLong, 1.0 - seen.toDouble / ss.length)
    }.toMap
    val got = Dedup.ngramNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
    assert(got.length == want.size)
    got.foreach { case (id, g) => assert(g == want(id), s"doc $id: $g vs ${want(id)}") }
    // the earliest doc is fully novel; at least one later doc has seen mass
    val minId = want.keys.min
    assert(want(minId)._3 == 1.0)
    assert(want.exists { case (id, (_, seen, _)) => id != minId && seen > 0 })
  }

  test("pmi topk: matches a plain-Scala refold bit for bit") {
    val toksAll = graft.Tables.documents(spark, sf)
      .select(TextOps.tokens(col("text")).as("toks"))
      .collect().map(_.getSeq[String](0))
    val uni = toksAll.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val nUni = uni.values.sum.toDouble
    val bi = toksAll
      .flatMap(ts => ts.zip(ts.drop(1)).map { case (a, b) => a + " " + b })
      .groupBy(identity).map { case (b2, xs) => b2 -> xs.length.toLong }
    val nBi = bi.values.sum.toDouble
    val want = bi.filter(_._2 >= 3).map { case (bg, c2) =>
      val Array(a, b) = bg.split(" ", 2)
      val pmi = BigDecimal(
        math.log((c2 / nBi) / ((uni(a) / nUni) * (uni(b) / nUni))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (bg, c2, uni(a), uni(b), pmi)
    }.toSeq.sortBy { case (bg, _, _, _, p2) => (-p2, bg) }.take(50)
    assert(want.nonEmpty)
    val got = TextOps.pmiTopK(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
  }

  test("dsir select: matches a plain-Scala refold bit for bit; target-like docs surface") {
    val rows = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val cr = rows.flatMap(_._3).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val ct = rows.filter(_._2 == "en").flatMap(_._3).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }.withDefaultValue(0L)
    val v = cr.size.toDouble
    val nr = cr.values.sum.toDouble
    val nt = rows.filter(_._2 == "en").map(_._3.length).sum.toDouble
    def lr(t: String): BigDecimal = {
      val pT = (ct(t) + 0.5) / (nt + 0.5 * v)
      val pR = (cr(t) + 0.5) / (nr + 0.5 * v)
      BigDecimal(math.log(pT / pR)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val want = rows.filter(_._3.nonEmpty).map { case (id, _, toks) =>
      val slr = toks.map(lr).sum
      val score = BigDecimal(slr.toDouble / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, toks.length.toLong, score)
    }.sortBy { case (id, _, s) => (-s, id) }.take(100)
    val got = graft.llm.Sampling.dsirSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
    // distribution matching works: the selected set is 'en'-enriched
    val lang = rows.map(r => r._1 -> r._2).toMap
    val selEn = got.count(g => lang(g._1) == "en").toDouble / got.length
    val baseEn = rows.count(_._2 == "en").toDouble / rows.length
    assert(selEn > baseEn, s"selected en-share $selEn <= base $baseEn")
  }

  test("dsir scoring: collected-table fold is bit-identical to the distributed shuffle plan") {
    // the gate picks the zero-shuffle collected-table fold at every
    // verify SF; the 100-TB fallback (vocabulary past the driver bound)
    // is the original explode-join-aggregate plan — the two must agree
    // bit for bit, which is what lets the registered query share one
    // oracle whichever path the vocabulary size selects
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(graft.llm.Sampling.dsirSelect(spark, sf)) ==
      rows(graft.llm.Sampling.dsirSelectShuffle(spark, sf)))
  }

  test("containment pairs: matches a driver-side refold; catches a quoted-inside pair Jaccard misses") {
    val maxDf = 64
    val sets = Dedup.shingleArrays(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val df_ = sets.toSeq.flatMap(_._2).groupBy(identity)
      .collect { case (s, xs) if xs.length <= maxDf => s }.toSet
    val capped = sets.map { case (id, ss) => (id, ss.filter(df_)) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- capped; (b, sb) <- capped if a < b
      common = (sa & sb).size if common > 0
      cont = BigDecimal(common.toDouble / math.min(sa.size, sb.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cont >= 0.9
    } yield (a, b, sa.size.toLong, sb.size.toLong, common.toLong, cont)).toSet
    val got = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got == want)
    // the asymmetric case: at least one pair where the contained doc is
    // much smaller than its container — Jaccard would score it far
    // below the containment threshold
    assert(want.exists { case (_, _, na, nb, common, _) =>
      val j = common.toDouble / (na + nb - common)
      j < 0.9
    }, "no size-asymmetric containment pair found — corpus too symmetric for the law")
  }

  test("containment probe: standing-index probe == brute-force cross pairs at full-corpus df") {
    val (maxDf, batchMod, threshold) = (64, 10, 0.5)
    val sets = Dedup.shingleArrays(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    // df cap over the FULL corpus-so-far (standing + batch) — the df a
    // live probe knows at arrival time
    val df_ = sets.toSeq.flatMap(_._2).groupBy(identity)
      .collect { case (s, xs) if xs.length <= maxDf => s }.toSet
    val capped = sets.map { case (id, ss) => (id, ss.filter(df_)) }
    val (batch, corpus) = capped.partition(_._1 % batchMod == 0)
    val want = (for {
      (b, sb) <- batch if sb.nonEmpty
      (a, sa) <- corpus
      common = (sa & sb).size if common > 0
      cont = BigDecimal(common.toDouble / sb.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cont >= threshold
    } yield (b, a, sb.size.toLong, common.toLong, cont)).toSet
    val got = Dedup.containmentProbe(spark, sf, threshold, maxDf, batchMod)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == want)
    assert(want.nonEmpty, "carved batch should contain quoted-in-corpus docs")
    // the probe is strictly the cross slice: no batch-batch or
    // corpus-corpus pair leaks through
    assert(got.forall { case (n, c, _, _, _) =>
      n % batchMod == 0 && c % batchMod != 0 })
  }

  test("novelty probe: per-new-doc unseen share == brute force against the standing shingle set") {
    val batchMod = 10
    val sets = Dedup.shingleArrays(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val standing = sets.filter(_._1 % batchMod != 0).flatMap(_._2).toSet
    val want = sets.filter(s => s._1 % batchMod == 0 && s._2.nonEmpty)
      .map { case (id, ss) =>
        val seen = ss.count(standing)
        (id, ss.size.toLong, seen.toLong, 1.0 - seen.toDouble / ss.size)
      }.toSet
    val got = Dedup.noveltyProbe(spark, sf, batchMod).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    // the metric discriminates on this corpus: not all-novel, not all-seen
    assert(want.exists(_._4 < 1.0) && want.exists(_._4 > 0.0))
  }

  test("source overlap matrix: pairwise jaccard/containment match a plain-Scala refold") {
    val rows = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val bySrc = rows.groupBy(_._1)
      .map { case (s, v) => s -> v.flatMap(d => shingles(d._2)).toSet }
    val srcs = bySrc.keys.toSeq.sorted
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      a <- srcs; b <- srcs if a < b
      common = (bySrc(a) & bySrc(b)).size
      na = bySrc(a).size; nb = bySrc(b).size
    } yield (a, b, na.toLong, nb.toLong, common.toLong,
      r6(common.toDouble / (na + nb - common)),
      r6(common.toDouble / math.min(na, nb)))).toSet
    val got = Dedup.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(got == want)
    assert(want.exists(_._5 > 0), "no cross-source shingle overlap found")
  }

  test("corpus split: grid matches a plain-Scala md5 recomputation; assignment is per-doc stable") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("\\s+").count(_.nonEmpty).toLong))
    val md = java.security.MessageDigest.getInstance("MD5")
    // the split draw is SALTED (":split") so it decorrelates from the
    // unsalted sampler draws -- the r13 fix for sampled corpora whose
    // docs would otherwise all land in 'train'
    def u(id: Long): Double = {
      val hex = md.digest((id.toString + ":split").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
    }
    def splitOf(id: Long): String = {
      val x = u(id)
      if (x < 0.8) "train" else if (x < 0.8 + 0.1) "val" else "test"
    }
    val want = docs.groupBy(d => (d._2, splitOf(d._1)))
      .map { case ((s, sp), v) =>
        (s, sp, v.length.toLong, v.map(_._3).sum) }.toSet
    val got = graft.llm.Sampling.corpusSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(Set("train", "val", "test").subsetOf(got.map(_._2)))
    // stability: a doc's split is a pure function of doc_id — restricting
    // the corpus to one source reassigns nothing
    val oneSrc = docs.head._2
    val sub = graft.llm.Sampling
      .corpusSplitAssign(spark, sf).filter(col("source") === oneSrc)
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(sub.forall { case (id, sp) => sp == splitOf(id) })
  }

  test("corpus split is decorrelated from the unsalted sampler draws") {
    // the bias the salt exists to prevent: a hash-sampled sub-corpus
    // (unsalted u below the accept rate) must still carry val and test
    // docs. With an UNSALTED split draw, u < 0.125 < trainFrac would put
    // every sampled doc in 'train' and silently empty the holdouts.
    val md = java.security.MessageDigest.getInstance("MD5")
    def uRaw(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
    }
    val sampled = graft.llm.Sampling.corpusSplitAssign(spark, sf)
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, _) => uRaw(id) < 0.125 } // the 1/8 hash sample
    assert(sampled.length > 20, "sample too small to test")
    val splits = sampled.map(_._2).toSet
    assert(splits.contains("val") && splits.contains("test"),
      s"hash-sampled corpus lost its holdouts: only $splits present " +
        s"in ${sampled.length} sampled docs")
  }

  test("dup cluster histogram: refolds the cluster assignment and conserves the corpus") {
    val assign = Dedup.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = assign.groupBy(_._2).values.map(_.size)
      .groupBy(identity).map { case (sz, v) =>
        (sz.toLong, v.size.toLong, sz.toLong * v.size) }.toSet
    val got = Dedup.dupClusterHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // conservation: every document sits in exactly one histogram cell
    assert(got.map(_._3).sum == Tables.documents(spark, sf).count())
    // the corpus is neither dup-free nor fully duplicated
    assert(got.exists(_._1 == 1L) && got.exists(_._1 > 1L))
  }

  test("quality by source: per-source rollup == refolding the per-doc gate; keep rates discriminate") {
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val perDoc = graft.llm.Quality.qualityFilter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = perDoc.groupBy(d => srcOf(d._1)).map { case (s, v) =>
      (s, v.length.toLong, v.map(_._2).sum,
        v.map(_._3.toLong).sum, v.map(_._4.toLong).sum, v.map(_._5.toLong).sum,
        v.map(_._6.toLong).sum, v.map(_._7.toLong).sum, v.map(_._8.toLong).sum,
        r6(v.map(_._8).sum.toDouble / v.length))
    }.toSet
    val got = graft.llm.Quality.qualityBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getDouble(9))).toSet
    assert(got == want)
    assert(got.map(_._10).size > 1, "keep rate identical across all sources")
  }

  test("corpus export: manifest conserves the corpus, shards token-balanced, published tree reads back whole") {
    import graft.llm.CorpusExport
    val nShards = 4
    val manifest = CorpusExport.exportManifest(spark, sf, nShards).collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // conservation: every document in exactly one (split, shard) cell
    val nDocs = Tables.documents(spark, sf).count()
    assert(manifest.values.map(_._1).sum == nDocs)
    // balance law: the prefix-sum cut bounds every shard's token mass
    // within one document of the ideal slice
    val assign = CorpusExport.assignments(spark, sf, nShards).collect()
      .map(r => (r.getString(3), r.getInt(4), r.getLong(2)))
    for (split <- assign.map(_._1).distinct) {
      val inSplit = assign.filter(_._1 == split)
      val total = inSplit.map(_._3).sum
      val maxDoc = inSplit.map(_._3).max
      val ideal = total.toDouble / nShards
      for (((s, sh), (_, toks)) <- manifest if s == split)
        assert(math.abs(toks - ideal) <= maxDoc + 1,
          s"split=$s shard=$sh tokens=$toks ideal=$ideal maxDoc=$maxDoc")
    }
    // the published tree holds exactly the corpus, hive-partitioned
    val path = s"${CorpusExport.exportPath(spark, sf, nShards)}/final"
    val back = spark.read.parquet(path)
    assert(back.select("doc_id").distinct().count() == nDocs)
    assert(back.columns.toSet ==
      Set("doc_id", "source", "n_toks", "text", "split", "shard_id"))
    // re-running is stable and serves the published tree (no rewrite):
    // the manifest recomputes identically and the marker is present
    val again = CorpusExport.exportManifest(spark, sf, nShards).collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(again == manifest)
    // a doc's (split, shard) in the tree matches the assignment frame
    val fromTree = back.select("doc_id", "split", "shard_id").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    val fromAssign = CorpusExport.assignments(spark, sf, nShards).collect()
      .map(r => (r.getLong(0), (r.getString(3), r.getInt(4)))).toMap
    assert(fromTree == fromAssign)
  }

  test("corpus export GC: reclaims this dir's stale trees, never a nested dir's live tree") {
    import graft.llm.CorpusExport
    // a LIVE export tree of the NESTED dir s"$sf/y" — its normalized
    // name extends this dir's prefix; the old startsWith-only GC
    // deleted it on every parent export
    val nested = new java.io.File(
      Published.pathFor("export", s"$sf/y", "9_9_ab", 4, "0p8", "0p1", "s1"))
    // a STALE tree of THIS dir (key-shaped remainder, dead stamp)
    val stale = new java.io.File(
      Published.pathFor("export", sf, "9_9_ab", 4, "0p8", "0p1", "s1"))
    nested.mkdirs(); stale.mkdirs()
    try {
      CorpusExport.exportManifest(spark, sf, 4).collect()
      assert(nested.exists(), "GC deleted a nested dir's live export tree")
      assert(!stale.exists(), "GC kept this dir's stale export tree")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(nested); rm(stale)
    }
  }

  test("weighted_sample: top-k priorities match a plain-Scala md5 recomputation") {
    val got = graft.llm.Sampling.weightedSample(spark, sf, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def priority(id: Long, w: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
      w.toDouble / u
    }
    val want = docs.map { case (id, w) => (id, priority(id, w)) }
      .sortBy { case (id, q) => (-q, id) }.take(20)
    assert(got.toSeq == want.toSeq,
      s"engine top-20 != scala top-20:\n${got.toSeq}\n${want.toSeq}")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dup span scrub: unaligned shared passage removed at both offsets; internal repeat self-scrubs; matches brute force on the corpus") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"w$i").mkString(" ") // 20 shared tokens
    val docs = Seq(
      (0L, s"alpha beta gamma $shared delta"),     // shared at offset 4
      (1L, s"one $shared two three four five six"),// shared at offset 2
      (2L, ("x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15 " * 2).trim),
      (9L, (1 to 30).map(i => s"u$i").mkString(" "))) // clean, all unique
      .toDF("doc_id", "text")
    val out = TextOps.dupSpanScrubFromDocs(docs, k = 15, minDf = 2)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // the 20 shared tokens vanish from BOTH docs despite different
    // offsets (the boilerplate chunk scrub would need alignment)
    assert(!out(0L)._4.contains("w1 "), out(0L).toString)
    assert(out(0L)._4 == "alpha beta gamma delta")
    assert(out(1L)._4 == "one two three four five six")
    // within-document repetition: both copies of the 15-token run are
    // duplicated windows, the whole doc scrubs away
    assert(out(2L)._4 == "" && out(2L)._3 == 30L)
    // clean doc passes through normalized-identical
    assert(out(9L)._4 == (1 to 30).map(i => s"u$i").mkString(" ")
      && out(9L)._3 == 0L)

    // full-corpus parity against a plain-Scala reimplementation
    val k = 15
    val corpus = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty) }.toMap
    val grams = toks.toSeq.flatMap { case (id, ts) =>
      if (ts.length < k) Seq.empty
      else ts.sliding(k).zipWithIndex.map { case (g, p) =>
        (id, p + 1, g.mkString(" ")) }.toSeq }
    val cnt = grams.groupBy(_._3).map { case (g, v) => g -> v.size }
    val dup = grams.filter(g => cnt(g._3) >= 2)
      .groupBy(_._1).map { case (id, v) => id -> v.map(_._2).toSet }
    val want = toks.map { case (id, ts) =>
      val dps = dup.getOrElse(id, Set.empty[Int])
      val kept = ts.zipWithIndex.collect {
        case (t, i) if !dps.exists(p => p <= i + 1 && i + 1 <= p + k - 1) => t }
      id -> ((ts.length.toLong, dps.size.toLong,
        (ts.length - kept.length).toLong, kept.mkString(" ")))
    }
    val gotCorpus = TextOps.dupSpanScrub(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(gotCorpus == want)
    assert(want.values.exists(_._3 > 0), "corpus should contain dup spans")

    // the hashed-key production form (8-byte shuffle keys) produces the
    // identical scrub on the corpus
    val corpusDocs = Tables.documents(spark, sf).select("doc_id", "text")
    val hashed = TextOps.dupSpanScrubHashedFromDocs(corpusDocs, k, minDf = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(hashed == want)
  }

  test("maximal dup spans: interval merge matches brute force; threshold scrub spares short spans") {
    import spark.implicits._
    val k = 15
    // plain-Scala maximal-interval merge over sorted window starts
    def mergeIvs(ps: Seq[Int]): Seq[(Int, Int, Int)] =
      ps.sorted.foldLeft(Vector.empty[(Int, Int, Int)]) {
        case (acc, p) if acc.nonEmpty && p <= acc.last._2 + 1 =>
          acc.init :+ ((acc.last._1, math.max(acc.last._2, p + k - 1),
            acc.last._3 + 1))
        case (acc, p) => acc :+ ((p, p + k - 1, 1))
      }
    val shared20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val shared15 = (1 to 15).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta gamma $shared20 delta"),   // 20-token span at 4..23
      (1L, s"one $shared20 two three"),            // same span at 2..21
      (3L, s"p1 p2 $shared15 q1 q2 q3 q4 q5"),     // 15-token span at 3..17
      (4L, s"r1 $shared15 r2 r3 r4 r5 r6 r7"),     // same at 2..16
      (9L, (1 to 40).map(i => s"u$i").mkString(" "))) // clean
      .toDF("doc_id", "text")
    val spans = TextOps.dupSpansMaximalFromDocs(docs, k, minDf = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSet
    assert(spans == Set(
      (0L, 4, 23, 20, 6L), (1L, 2, 21, 20, 6L),
      (3L, 3, 17, 15, 1L), (4L, 2, 16, 15, 1L)), spans.toString)
    // threshold 20: the 20-token passage scrubs, the 15-token one SURVIVES
    // (dupSpanScrub would remove both — this is the over-scrub margin)
    val scrub = TextOps.dupSpanScrubMaximalFromDocs(docs, k, minDf = 2,
      minSpanLen = 20).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(scrub(0L)._4 == "alpha beta gamma delta")
    assert(scrub(1L)._4 == "one two three")
    assert(scrub(3L) == ((22L, 0L, 0L,
      s"p1 p2 $shared15 q1 q2 q3 q4 q5")), scrub(3L).toString)
    assert(scrub(4L)._3 == 0L && scrub(4L)._4.contains("s1 "))
    assert(scrub(9L)._3 == 0L)

    // corpus parity at the registered config (k=15, minDf=2, floor=40)
    val corpus = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty) }.toMap
    val grams = toks.toSeq.flatMap { case (id, ts) =>
      if (ts.length < k) Seq.empty
      else ts.sliding(k).zipWithIndex.map { case (g, p) =>
        (id, p + 1, g.mkString(" ")) }.toSeq }
    val cnt = grams.groupBy(_._3).map { case (g, v) => g -> v.size }
    val dupPs = grams.filter(g => cnt(g._3) >= 2)
      .groupBy(_._1).map { case (id, v) => id -> v.map(_._2).toSeq }
    val wantSpans = dupPs.toSeq.flatMap { case (id, ps) =>
      mergeIvs(ps).map { case (s, e, nw) =>
        (id, s, e, e - s + 1, nw.toLong) } }.toSet
    val gotSpans = TextOps.dupSpansMaximal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSet
    assert(gotSpans == wantSpans)
    assert(wantSpans.nonEmpty, "corpus should contain maximal dup spans")

    val minLen = 40
    val wantScrub = toks.map { case (id, ts) =>
      val ivs = mergeIvs(dupPs.getOrElse(id, Seq.empty))
        .filter(iv => iv._2 - iv._1 + 1 >= minLen)
      val kept = ts.zipWithIndex.collect {
        case (t, i) if !ivs.exists(iv => iv._1 <= i + 1 && i + 1 <= iv._2) => t }
      id -> ((ts.length.toLong, ivs.size.toLong,
        (ts.length - kept.length).toLong, kept.mkString(" ")))
    }
    val gotScrub = TextOps.dupSpanScrubMaximal(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(gotScrub == wantScrub)
    // the floor bites both ways on this corpus: some spans survive, some scrub
    assert(wantScrub.values.exists(_._3 > 0), "floor should scrub some spans")
    assert(wantSpans.exists(_._4 < minLen), "corpus should carry sub-floor spans")
  }

  test("token budget mix: rates and kept masses match a plain-Scala recomputation; budget nesting holds") {
    val budget = 20000L
    val got = graft.llm.Sampling.tokenBudgetMix(spark, sf, budget)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), r.getDouble(4), r.getLong(5),
          r.getLong(6)))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("\\s+").count(_.nonEmpty).toLong))
    val totals = docs.groupBy(_._2).map { case (s, v) =>
      s -> v.map(_._3).sum }
    val weights = totals.keys.map(s => s -> (1.0 + s.length % 3)).toMap
    val sumW = weights.values.sum
    def u(id: Long): Double =
      (java.lang.Long.parseLong(md5hex(id.toString).take(13), 16) + 1)
        .toDouble / 4503599627370496.0
    val rates = totals.map { case (s, t) =>
      s -> math.min(1.0, budget.toDouble * (weights(s) / sumW) / t.toDouble) }
    val keptDocs = docs.filter { case (id, s, _) => u(id) < rates(s) }
    for (s <- totals.keys) {
      val (w, tt, rate, nKept, tKept) = got(s)
      assert(w == weights(s) && tt == totals(s))
      assert(math.abs(rate - rates(s)) < 1e-12, s"$s rate $rate vs ${rates(s)}")
      val mine = keptDocs.filter(_._2 == s)
      assert(nKept == mine.length.toLong && tKept == mine.map(_._3).sum,
        s"$s kept mismatch")
    }
    // hash-accept nesting: doubling the budget only ADDS docs (rates
    // grow, the accepted u-interval is a superset)
    val g2 = graft.llm.Sampling.tokenBudgetMix(spark, sf, 2 * budget)
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    for (s <- totals.keys)
      assert(g2(s) >= got(s)._4, s"$s shrank when the budget doubled")
  }

  test("epoch shuffle: two-phase stratified ordinal equals the global md5 ordering and is a permutation") {
    val got = graft.llm.Sampling.epochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val want = got.map(_._1).sortBy(id => (md5hex(id.toString), id))
      .zipWithIndex.map { case (id, i) => (id, i + 1L) }.toMap
    assert(got.length == want.size)
    assert(got.forall { case (id, p) => want(id) == p },
      "stratum-offset ordinal diverged from the global ordering")
    assert(got.map(_._2).sorted.toSeq == (1L to got.length).toSeq)
    // a salt re-keys the permutation (still a valid, replayable one)
    val salted = graft.llm.Sampling.epochShuffle(spark, sf, salt = "epoch1")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val want2 = salted.map(_._1)
      .sortBy(id => (md5hex(id.toString + "epoch1"), id))
      .zipWithIndex.map { case (id, i) => (id, i + 1L) }.toMap
    assert(salted.forall { case (id, p) => want2(id) == p })
    assert(salted.toMap != got.toMap, "salt did not change the order")
  }

  test("corpus shards: distributed prefix sum == naive fold; mass conserved; balance within one doc") {
    val n = 16
    val got = graft.llm.Sampling.corpusShards(spark, sf, n).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split("\\s+").count(_.nonEmpty).toLong))
    val ordered = docs.sortBy { case (id, _) => (md5hex(id.toString), id) }
    val t = ordered.map(_._2).sum
    var cum = 0L
    val truth = scala.collection.mutable.Map[Int, (Long, Long)]()
    for ((_, toks) <- ordered) {
      val s = math.min(n - 1L, cum * n / t).toInt
      val (d0, t0) = truth.getOrElse(s, (0L, 0L))
      truth(s) = (d0 + 1, t0 + toks)
      cum += toks
    }
    assert(got == truth.toMap)
    assert(got.values.map(_._1).sum == docs.length.toLong)
    assert(got.values.map(_._2).sum == t)
    // token balance: no shard exceeds its T/n slice by more than the
    // largest single document (a doc is never split)
    val maxDoc = docs.map(_._2).max
    assert(got.values.map(_._2).max <= t / n + maxDoc)
  }
}
