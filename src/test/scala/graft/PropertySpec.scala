package graft

import graft.ingest.ChunkFeeder
import graft.ops.Patterns
import graft.state.{JdbcUpsertStore, StateStore}
import graft.streaming.MicroBatchRunner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks (SURVEY.md §5.4) driven by ScalaCheck
  * generators with fixed seeds (scalatest's forAll bridge isn't in the
  * offline cache, so generators are sampled explicitly — same coverage,
  * deterministic replay). */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("chunk feeder CSV escaping round-trips nasty strings") {
    import spark.implicits._
    val nastyVal = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const("a,b"), Gen.const("say \"hi\""), Gen.const("line1\nline2"),
      Gen.const("cr\rmid"), Gen.const("crlf\r\nend"),
      Gen.const("trailing,"), Gen.const(",,\"\","))
    for (seed <- 1L to 8L) {
      val vals = sample(Gen.listOfN(30, nastyVal), seed)
      val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "payload")
      ChunkFeeder.feed(df, dir, chunkSize = 7)
      val back = spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", "\"") // RFC4180 doubled quotes, not backslash
        .schema("id LONG, payload STRING")
        .csv(dir)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
        .toMap
      val want = vals.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
      assert(back == want, s"seed $seed")
    }
  }

  test("additive merge is invariant under batch partitioning and order") {
    import spark.implicits._
    val rowGen = for {
      m <- Gen.choose(0, 4); n <- Gen.choose(1L, 5L)
    } yield (s"m$m", n)
    val emptyCms = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("customer_id", StringType),
        StructField("merchant_id", StringType),
        StructField("transaction_count", LongType),
        StructField("total_amount_sum", DecimalType(18, 2)))))
    val emptyG = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("merchant_id", StringType),
        StructField("male_transaction_count", LongType),
        StructField("female_transaction_count", LongType))))
    for (seed <- 1L to 5L) {
      val data = sample(Gen.listOfN(60, rowGen), seed)
      val nBatches = sample(Gen.choose(2, 4), seed + 100)
      val store = JdbcUpsertStore.derbyMemory(s"prop$seed-${System.nanoTime()}")
      try {
        val df = data.zipWithIndex
          .map { case ((m, n), i) => (i, m, n) }.toDF("i", "merchant_id", "w")
        val parts = (0 until nBatches).map(b =>
          df.filter(pmod(col("i"), lit(nBatches)) === b))
        for (p <- new scala.util.Random(seed).shuffle(parts.toList)) {
          val d = p.groupBy("merchant_id")
            .agg(sum(col("w")).as("total_transactions"))
          store.applyDeltas(d, emptyCms, emptyG)
        }
        val got = store.merchantSummary(spark)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = data.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        assert(got == want, s"seed $seed")
      } finally store.close()
    }
  }

  /** Random micro-batches in the stream schema: few keys so pairs
    * repeat, null amounts and null genders, and pair (c0, m0) under both
    * genders. With `keepAPairAmount` every (customer, merchant) pair of a
    * batch keeps a non-null amount: a sum over nulls only is null, which
    * the state tables' NOT NULL DDL rejects. */
  private def txBatches(seed: Long, batches: Int, keepAPairAmount: Boolean): Seq[Seq[Row]] = {
    val rowGen = for {
      c <- Gen.choose(0, 5); m <- Gen.choose(0, 3)
      gender <- Gen.oneOf(Some("M"), Some("F"), None)
      cents <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(1L, 999999L).map(Some(_)))
    } yield (s"c$c", s"m$m", gender.orNull, cents)
    (0 until batches).map { b =>
      val raw = sample(Gen.listOfN(60, rowGen), seed * 100 + b) ++
        Seq(("c0", "m0", "M", Some(1000L)), ("c0", "m0", "F", Some(2050L)))
      val priced = raw.filter(_._4.isDefined).map(r => (r._1, r._2)).toSet
      raw.map { case (c, m, gender, cents) =>
        val amount = if (keepAPairAmount && !priced((c, m))) Some(100L) else cents
        Row(0, c, "3", gender, "28007", m, "28007", "es_food",
          amount.map(a => Double.box(a / 100.0)).orNull, 0)
      }
    }
  }

  private def txFrame(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, MicroBatchRunner.txStreamSchema)
  }

  /** The three state tables as Spark's groupBy computes them over `tx`. */
  private def sparkState(tx: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    tx.groupBy(col("merchant")).agg(count(lit(1))),
    tx.groupBy(col("customer"), col("merchant"))
      .agg(count(lit(1)), sum(col("amount").cast(DecimalType(18, 2)))),
    tx.groupBy(col("merchant")).agg(
      sum(when(col("gender") === "M", 1L).otherwise(0L)),
      sum(when(col("gender") === "F", 1L).otherwise(0L))))

  /** Row values compared by value: decimals of any scale, nulls kept. */
  private def rowSet(rows: Seq[Row]): Set[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: java.math.BigDecimal => BigDecimal(d)
      case v => v
    }).toSet

  private def runner(store: StateStore, scale: Boolean): MicroBatchRunner = {
    import scala.jdk.CollectionConverters._
    val importance = spark.createDataFrame(
      Seq(Row("c0", "m0", "es_food", 1.0)).asJava,
      StructType(Seq(StructField("customer", StringType), StructField("merchant", StringType),
        StructField("category", StringType), StructField("weight", DoubleType))))
    new MicroBatchRunner(spark, store, importance,
      java.nio.file.Files.createTempDirectory("graft-rollup").toString,
      clock = () => Patterns.FixedClock, scaleMode = scale)
  }

  test("driver delta rollup == Spark groupBy per batch, null-only sums included, both modes") {
    // records each batch's deltas; reads fail, so the runner takes its
    // empty-state fallback and the test sees the deltas alone
    final class RecordingStore extends StateStore {
      val deltas = scala.collection.mutable.ArrayBuffer.empty[Seq[Set[Seq[Any]]]]
      override def applyDeltas(m: DataFrame, cm: DataFrame, g: DataFrame,
          epochId: Option[Long]): Unit =
        deltas += Seq(m, cm, g).map(d => rowSet(d.collect().toSeq))
      private def noReads = throw new IllegalStateException("no state reads")
      override def merchantSummary(s: SparkSession): DataFrame = noReads
      override def custMerchantSummary(s: SparkSession): DataFrame = noReads
      override def genderSummary(s: SparkSession): DataFrame = noReads
    }
    for (scale <- Seq(false, true); seed <- 1L to 3L) {
      val batches = txBatches(seed, 2, keepAPairAmount = false)
      val store = new RecordingStore
      val r = runner(store, scale)
      batches.zipWithIndex.foreach { case (b, i) => r.processBatch(txFrame(b), i.toLong) }
      val want = batches.map { b =>
        val (m, cm, g) = sparkState(txFrame(b))
        Seq(m, cm, g).map(d => rowSet(d.collect().toSeq))
      }
      assert(want.exists(_(1).exists(_(3) == null)), s"seed $seed draws no null-only sum")
      assert(store.deltas.toSeq == want, s"scale=$scale seed $seed")
    }
  }

  test("state after random batches through processBatch == Spark groupBy of all rows, both modes") {
    // keepAPairAmount = false draws pairs whose amounts are all null in
    // a batch: their null delta sums add 0, so the state sum is
    // coalesce(sum, 0) of all rows
    for (keep <- Seq(true, false); scale <- Seq(false, true); seed <- 1L to 2L) {
      val batches = txBatches(seed, 3, keepAPairAmount = keep)
      val store = JdbcUpsertStore.derbyMemory(s"rollup$seed-$scale-$keep-${System.nanoTime()}")
      try {
        val r = runner(store, scale)
        batches.zipWithIndex.foreach { case (b, i) => r.processBatch(txFrame(b), i.toLong) }
        if (!keep) assert(batches.exists(b => sparkState(txFrame(b))._2.collect()
          .exists(_.isNullAt(3))), s"seed $seed draws no null-only sum")
        val (m, cm, g) = sparkState(txFrame(batches.flatten))
        val wantCm = cm.select(cm.columns.init.map(col) :+
          coalesce(col(cm.columns.last), lit(0)): _*)
        Seq(store.merchantSummary(spark) -> m, store.custMerchantSummary(spark) -> wantCm,
            store.genderSummary(spark) -> g).foreach { case (got, want) =>
          assert(rowSet(got.collect().toSeq) == rowSet(want.collect().toSeq),
            s"keep=$keep scale=$scale seed $seed")
        }
      } finally store.close()
    }
  }

  test("streaming low-weight pairs == brute-force reference rule, missing-threshold fallback included") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    // few keys so groups repeat; a third of the weights null, group
    // (m3, k1) null only; batch customers c6/c7 have no importance row
    val impGen = for {
      c <- Gen.choose(0, 5); m <- Gen.choose(0, 3); k <- Gen.choose(0, 1)
      w <- Gen.frequency(1 -> Gen.const(None), 2 -> Gen.choose(0, 40).map(i => Some(i / 10.0)))
    } yield (s"c$c", s"m$m", s"k$k", if (m == 3 && k == 1) None else w)
    val pairGen = for {
      c <- Gen.choose(0, 7); m <- Gen.choose(0, 3); k <- Gen.choose(0, 1)
    } yield (s"c$c", s"m$m", s"k$k")
    val impSchema = StructType(Seq(StructField("customer", StringType),
      StructField("merchant", StringType), StructField("category", StringType),
      StructField("weight", DoubleType)))
    val cfg = Patterns.Config(detectionPercentile = 0.5)
    val fallbackWeight = 2.0 // the reference's ("Mechanism Y.py":236-237)
    for (seed <- 1L to 4L) {
      val imp = sample(Gen.listOfN(40, impGen), seed)
      val pairs = sample(Gen.listOfN(30, pairGen), seed + 100)
      val impDf = spark.createDataFrame(imp.map { case (c, m, k, w) =>
        Row(c, m, k, w.map(Double.box).orNull) }.asJava, impSchema)
      val got = Patterns.streamLowWeightPairs(impDf, cfg)(
          pairs.toDF("customer", "merchant", "category"))
        .as[(String, String)].collect().toSet
      // the reference's thresholds: percentile_approx per group
      val pWeight = impDf.groupBy("merchant", "category")
        .agg(expr(s"percentile_approx(weight, ${cfg.detectionPercentile}, 10000)"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val groupWeights = imp.groupBy(r => (r._2, r._3)).view
        .mapValues(_.flatMap(_._4)).toMap
      groupWeights.foreach { case (g, ws) =>
        assert(pWeight(g).forall(ws.contains) && pWeight(g).isEmpty == ws.isEmpty,
          s"seed $seed group $g: threshold ${pWeight(g)} of $ws")
      }
      // J1 left join + J2 left join + the rule with its fallback clause
      val want = (for {
        (c, m, k) <- pairs
        weight <- imp.collect { case (`c`, `m`, `k`, w) => w }
        p = pWeight.get((m, k)).flatten
        if (p.isDefined && weight.exists(_ < p.get)) ||
          (p.isEmpty && weight.isDefined && weight.get < fallbackWeight)
      } yield (c, m)).toSet
      assert(got == want, s"seed $seed")
      assert(want.nonEmpty, s"seed $seed draws no low-weight pair")
      assert(pairs.exists(p => !imp.exists(i => (i._1, i._2, i._3) == p)),
        s"seed $seed draws no batch row without an importance row")
      assert(groupWeights.exists(_._2.isEmpty), s"seed $seed draws no all-null group")
      assert(groupWeights.exists { case (g, ws) =>
        ws.nonEmpty && imp.exists(i => (i._2, i._3) == g && i._4.isEmpty)
      }, s"seed $seed draws no null weight beside a non-null one")
    }
  }

  test("parity detections after each random batch == plain-Scala reference rules, Long- and String-keyed dims") {
    import scala.jdk.CollectionConverters._
    val cfg = Patterns.Config(merchantTxThreshold = 15L, custTxThreshold = 1L,
      detectionPercentile = 0.5, childTxMin = 2L, childAvgMax = 4000.0, deiFemaleMin = 1L)
    val clock = Patterns.FixedClock
    // the dim: customers 0-5, merchants 0-3, categories k0/k1, a quarter
    // of the weights null; batches also draw customers 6-7, which have
    // no importance row
    val impGen = for {
      c <- Gen.choose(0, 5); m <- Gen.choose(0, 3); k <- Gen.choose(0, 1)
      w <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(0, 40).map(i => Some(i / 10.0)))
    } yield (c, m, s"k$k", w)
    // (customer, merchant, category, gender, amount in cents); merchant
    // traffic is skewed so they cross PatId1's volume threshold in
    // different batches (m3 never does)
    val rowGen = for {
      c <- Gen.choose(0, 7); zero <- Gen.frequency(4 -> false, 1 -> true)
      m <- Gen.frequency(6 -> 0, 3 -> 1, 2 -> 2, 1 -> 3); k <- Gen.choose(0, 1)
      gender <- Gen.oneOf(Some("M"), Some("F"), None)
      cents <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(1L, 999999L).map(Some(_)))
    } yield (c, zero, m, s"k$k", gender.orNull, cents)
    val fired = scala.collection.mutable.Map.empty[(Boolean, String), Int].withDefaultValue(0)
    for (longKeys <- Seq(true, false); seed <- 1L to 2L) {
      val imp = sample(Gen.listOfN(30, impGen), seed)
      // Long keys: batch ids are numeric strings, some with a leading
      // zero, so the lookup must cast them as the J1 join does ("07" is
      // customer 7); String keys: the dim holds the batch's own strings
      def custId(c: Int, zero: Boolean) = if (longKeys) (if (zero) s"0$c" else s"$c") else s"c$c"
      def merchId(m: Int) = if (longKeys) s"$m" else s"m$m"
      val (keyType, dimRows) =
        if (longKeys) (LongType, imp.map { case (c, m, k, w) =>
          Row(c.toLong, m.toLong, k, w.map(Double.box).orNull) })
        else (StringType, imp.map { case (c, m, k, w) =>
          Row(s"c$c", s"m$m", k, w.map(Double.box).orNull) })
      val dim = spark.createDataFrame(dimRows.asJava, StructType(Seq(
        StructField("customer", keyType), StructField("merchant", keyType),
        StructField("category", StringType), StructField("weight", DoubleType))))

      // the reference rules in plain Scala: per-(merchant, category)
      // nearest-rank percentile of the non-null weights, and a triple is
      // low-weight when one of its dim rows weighs less
      val pWeight = imp.groupBy(i => (i._2, i._3)).view.mapValues { g =>
        val ws = g.flatMap(_._4).sorted
        ws.lift(math.max(math.ceil(cfg.detectionPercentile * ws.length).toInt - 1, 0))
      }.toMap
      val lowTriples = imp.collect { case (c, m, k, Some(w)) if pWeight((m, k)).exists(w < _) =>
        (c, m, k) }.toSet
      def isLow(customer: String, merchant: String, k: String): Boolean = {
        val (c, m) = if (longKeys) (customer.toInt, merchant.toInt)
          else (customer.stripPrefix("c").toInt, merchant.stripPrefix("m").toInt)
        lowTriples((c, m, k))
      }

      val store = JdbcUpsertStore.derbyMemory(s"detect$seed-$longKeys-${System.nanoTime()}")
      val outDir = java.nio.file.Files.createTempDirectory("graft-detect").toString
      try {
        val runner = new MicroBatchRunner(spark, store, dim, outDir, cfg, () => clock)
        val seen = scala.collection.mutable.Set.empty[String]
        var history = Seq.empty[(String, String, String, String, Option[Long])]
        for (b <- 0 until 4) {
          val batch = sample(Gen.listOfN(40, rowGen), seed * 100 + b).map {
            case (c, zero, m, k, gender, cents) => (custId(c, zero), merchId(m), k, gender, cents)
          }
          runner.processBatch(txFrame(batch.map { case (c, m, k, gender, cents) =>
            Row(0, c, "3", gender, "28007", m, "28007", k,
              cents.map(a => Double.box(a / 100.0)).orNull, 0)
          }), b.toLong)
          runner.flushRemainder()
          val dirs = new java.io.File(outDir).listFiles().map(_.toString).filterNot(seen)
          seen ++= dirs
          val got = if (dirs.isEmpty) Seq.empty
            else spark.read.option("header", "true").csv(dirs: _*).collect().toSeq
              .map(_.toSeq.map(v => Option(v).fold("")(_.toString)))

          history ++= batch
          val ms = history.groupBy(_._2).view.mapValues(_.length.toLong).toMap
          val cms = history.groupBy(r => (r._1, r._2)).view.mapValues { rs =>
            (rs.length.toLong, rs.flatMap(_._5).sum)
          }.toMap
          val gs = history.groupBy(_._2).view.mapValues { rs =>
            (rs.count(_._4 == "M").toLong, rs.count(_._4 == "F").toLong)
          }.toMap
          def det(id: String, action: String, c: String, m: String) =
            Seq(clock.ystart, clock.now, id, action, c, m)
          val lowPairs = batch.collect { case (c, m, k, _, _) if isLow(c, m, k) => (c, m) }.toSet
          val want =
            lowPairs.toSeq.collect { case (c, m)
                if ms(m) > cfg.merchantTxThreshold && cms((c, m))._1 > cfg.custTxThreshold =>
              det("PatId1", "UPGRADE", c, m) } ++
            cms.toSeq.collect { case ((c, m), (n, cents))
                if n >= cfg.childTxMin && cents / 100.0 / n < cfg.childAvgMax =>
              det("PatId2", "CHILD", c, m) } ++
            gs.toSeq.collect { case (m, (male, female))
                if female < male && female > cfg.deiFemaleMin =>
              det("PatId3", "DEI-NEEDED", "", m) }
          def sorted(rows: Seq[Seq[String]]) = rows.sortBy(_.mkString("\u0000"))
          assert(sorted(got) == sorted(want), s"longKeys=$longKeys seed $seed batch $b")
          want.foreach(r => fired((longKeys, r(2))) += 1)
        }
      } finally store.close()
    }
    for (longKeys <- Seq(true, false); id <- Seq("PatId1", "PatId2", "PatId3"))
      assert(fired((longKeys, id)) > 0, s"longKeys=$longKeys: $id never fires")
  }

  test("bpe token count laws over random text: bounds, whitespace additivity, case folding") {
    import graft.functions.BpeTokenCount
    val wordGen = Gen.oneOf(
      Gen.listOfN(5, Gen.alphaChar).map(_.mkString),
      Gen.oneOf("the", "theater", "printing", "nation", "zzzz", "a", "Aa"),
      Gen.listOfN(3, Gen.oneOf('0' to '9')).map(_.mkString),
      Gen.const("don't"), Gen.const("x;y"))
    val textGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    for (seed <- 1L to 10L) {
      val s = sample(textGen, seed)
      val n = BpeTokenCount.count(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val nonWs = s.count(!_.isWhitespace)
      val words = s.split("\\s+").count(_.nonEmpty)
      assert(n >= words && n <= nonWs, s"seed $seed: $n outside [$words, $nonWs]")
      // whitespace additivity: a document counts as the sum of its words
      val parts = s.split("\\s+").filter(_.nonEmpty).map(w =>
        BpeTokenCount.count(
          org.apache.spark.unsafe.types.UTF8String.fromString(w))).sum
      assert(n == parts, s"seed $seed: not additive over whitespace")
      // case folding: counts are case-insensitive
      val upper = BpeTokenCount.count(
        org.apache.spark.unsafe.types.UTF8String.fromString(s.toUpperCase))
      assert(n == upper, s"seed $seed: case changed the count")
    }
  }

  test("dHash laws on random payloads: resample invariance, locality, determinism") {
    import graft.llm.Multimodal.MediaCodec
    val payloadGen = Gen.listOfN(300, Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
    for (seed <- 1L to 10L) {
      val b = sample(payloadGen, seed)
      val h = MediaCodec.dHash64(b)
      assert(h == MediaCodec.dHash64(b.clone()), "not deterministic")
      // integer-factor upsampling preserves the pooled grid (exact box
      // filter) — allow a tiny FP slack at exact-tie cells
      for (f <- Seq(2, 3)) {
        val up = b.flatMap(x => Array.fill(f)(x))
        val d = java.lang.Long.bitCount(h ^ MediaCodec.dHash64(up))
        assert(d <= 1, s"seed $seed: upsample x$f moved $d bits")
      }
      // locality: flipping one low bit of one byte moves few cells
      val noisy = b.clone(); noisy(137) = (noisy(137) ^ 1).toByte
      assert(java.lang.Long.bitCount(h ^ MediaCodec.dHash64(noisy)) <= 4,
        s"seed $seed: 1-byte noise not local")
    }
  }

  test("asof join: native == composed == brute force on random keyed timelines") {
    import graft.ops.TemporalOps
    import graft.plans.AsofJoinPlan
    import spark.implicits._
    // small key space + coarse times force heavy key collisions and
    // equal-timestamp ties, the corners that break asof merges
    val rowGen = for {
      k <- Gen.choose(0L, 4L)
      t <- Gen.choose(0L, 20L)
      id <- Gen.choose(0L, 999999L)
    } yield (k, t, id)
    for (seed <- 1L to 6L) {
      val probe = sample(Gen.listOfN(40, rowGen), seed).distinct
      val build = sample(Gen.listOfN(40, rowGen), seed + 50).distinct
      val pdf = probe.toDF("k", "t", "pid")
      val bdf = build.toDF("k", "t", "bid")
      val brute = probe.map { case (k, t, pid) =>
        val cand = build.filter(b => b._1 == k && b._2 <= t)
        val best = if (cand.isEmpty) None
          else Some(cand.maxBy(b => (b._2, b._3))._3) // latest time, max id tie
        (pid, best)
      }.toMap
      val native = AsofJoinPlan.asof(pdf, bdf, Seq("k"), "t", "t", "bid", Seq("bid"))
        .select("pid", "asof_bid").as[(Long, Option[Long])].collect().toMap
      val composed = TemporalOps.asofJoin(pdf, bdf, Seq("k"), "t", "t", "bid", Seq("bid"))
        .select("pid", "asof_bid").as[(Long, Option[Long])].collect().toMap
      assert(native == brute, s"native != brute, seed $seed")
      assert(composed == brute, s"composed != brute, seed $seed")
    }
  }

  test("forward + nearest asof == brute force on random keyed timelines") {
    import graft.ops.TemporalOps
    import spark.implicits._
    // the same collision-heavy space as the backward test: nearest's
    // corners are exact-distance ties (resolve backward) and equal-time
    // builds (both directions see them; max-id must win in each)
    val rowGen = for {
      k <- Gen.choose(0L, 4L)
      t <- Gen.choose(0L, 20L)
      id <- Gen.choose(0L, 999999L)
    } yield (k, t, id)
    for (seed <- 1L to 6L) {
      val probe = sample(Gen.listOfN(40, rowGen), seed).distinct
      val build = sample(Gen.listOfN(40, rowGen), seed + 50).distinct
      val pdf = probe.toDF("k", "t", "pid")
      val bdf = build.toDF("k", "t", "bid")
      val bruteFwd = probe.map { case (k, t, pid) =>
        val cand = build.filter(b => b._1 == k && b._2 >= t)
        val best = if (cand.isEmpty) None
          else Some(cand.minBy(b => (b._2, -b._3))._3) // earliest time, max id tie
        (pid, best)
      }.toMap
      val fwd = TemporalOps.asofJoinForward(pdf, bdf, Seq("k"), "t", "t",
          "bid", Seq("bid"))
        .select("pid", "asof_bid").as[(Long, Option[Long])].collect().toMap
      assert(fwd == bruteFwd, s"forward != brute, seed $seed")

      val bruteNear = probe.map { case (k, t, pid) =>
        val back = build.filter(b => b._1 == k && b._2 <= t)
        val fw = build.filter(b => b._1 == k && b._2 >= t)
        val bb = if (back.isEmpty) None else Some(back.maxBy(b => (b._2, b._3)))
        val fb = if (fw.isEmpty) None else Some(fw.minBy(b => (b._2, -b._3)))
        val best = (bb, fb) match {
          case (None, f) => f.map(_._3)
          case (b, None) => b.map(_._3)
          case (Some(b), Some(f)) =>
            if (f._2 - t < t - b._2) Some(f._3) else Some(b._3) // tie -> backward
        }
        (pid, best)
      }.toMap
      val near = TemporalOps.asofJoinNearest(pdf, bdf, Seq("k"), "t", "t",
          "bid", Seq("bid", "t"))
        .select("pid", "asof_bid").as[(Long, Option[Long])].collect().toMap
      assert(near == bruteNear, s"nearest != brute, seed $seed")
    }
  }

  test("source cap: two-phase skew-proof ranking == single global window, any fanout") {
    import spark.implicits._
    // heavy duplicate n_chars force rank ties (doc_id tiebreak) and a
    // hot source exercises the phase-1 sub-bucket union-containment
    val rowGen = for {
      src <- Gen.oneOf("hot", "hot", "hot", "warm", "cold") // skewed
      nc <- Gen.choose(1L, 6L)
    } yield (src, nc)
    for (seed <- 1L to 4L; fanout <- Seq(1, 3, 8)) {
      val rows = sample(Gen.listOfN(60, rowGen), seed).zipWithIndex
        .map { case ((s, nc), i) => (i.toLong, s, nc) }
      val cap = 5
      // brute: per source, top-cap by (n_chars desc, doc_id asc)
      val brute = rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, r._1)).take(cap)
          .zipWithIndex.map { case (r, i) => (r._1, r._2, r._3, i + 1) }
      }.toSet
      val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
      rows.toDF("doc_id", "source", "n_chars")
        .withColumn("text", lit("x")).withColumn("lang", lit("en"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.llm.Sampling.sourceCap(spark, dir, cap, fanout)
        .as[(Long, String, Long, Int)].collect().toSet
      rmTree(new java.io.File(dir))
      assert(got == brute, s"sourceCap != brute, seed $seed fanout $fanout")
    }
  }

  private def writeDocs(rows: Seq[(Long, String, String)], dir: String): Unit = {
    import SparkTestSession.spark.implicits._
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  test("epoch shuffle == naive global (md5, doc_id) ordinal on random corpora, any stratum width") {
    import spark.implicits._
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    for (seed <- 1L to 3L; nibbles <- Seq(1, 2, 3, 8)) {
      val texts = sample(Gen.listOfN(50, Gen.listOfN(4, word).map(_.mkString(" "))), seed)
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong * 7, t, "s") }
      val dir = java.nio.file.Files.createTempDirectory("graft-ep").toString
      writeDocs(rows, dir)
      // brute: the permutation is sort by (md5(doc_id), doc_id)
      val md5 = java.security.MessageDigest.getInstance("MD5")
      def h(id: Long) = md5.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val brute = rows.map(_._1).sortBy(id => (h(id), id))
        .zipWithIndex.map { case (id, i) => id -> (i + 1).toLong }.toMap
      val got = graft.llm.Sampling.epochShuffle(spark, dir, nibbles)
        .select("doc_id", "epoch_pos").as[(Long, Long)].collect().toMap
      rmTree(new java.io.File(dir))
      assert(got == brute, s"seed $seed nibbles $nibbles")
    }
  }

  test("corpus shards: conservation, contiguity in shuffle order, token balance") {
    import spark.implicits._
    val word = Gen.oneOf("one", "two", "three", "four")
    for (seed <- 1L to 3L) {
      val texts = sample(Gen.listOfN(60,
        Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))), seed)
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "s") }
      val dir = java.nio.file.Files.createTempDirectory("graft-sh").toString
      writeDocs(rows, dir)
      val nShards = 8
      val manifest = graft.llm.Sampling.corpusShards(spark, dir, nShards)
        .as[(Int, Long, Long)].collect().sortBy(_._1)
      rmTree(new java.io.File(dir))
      val totalDocs = manifest.map(_._2).sum
      val totalToks = manifest.map(_._3).sum
      val bruteToks = texts.map(_.split("\\s+").count(_.nonEmpty).toLong).sum
      assert(totalDocs == rows.length, s"doc conservation, seed $seed")
      assert(totalToks == bruteToks, s"token conservation, seed $seed")
      assert(manifest.forall(m => m._1 >= 0 && m._1 < nShards))
      // balance law: every shard's token mass is within one document's
      // tokens of T/nShards (the assignment rule's own bound), so no
      // shard exceeds T/n + maxDoc
      val maxDoc = texts.map(_.split("\\s+").count(_.nonEmpty).toLong).max
      val bound = bruteToks / nShards + maxDoc
      assert(manifest.forall(_._3 <= bound),
        s"shard over balance bound $bound: ${manifest.mkString(",")}")
    }
  }

  test("two-key native asof == brute on random timelines (co-located merge path)") {
    import graft.plans.AsofJoinPlan
    import spark.implicits._
    val rowGen = for {
      k1 <- Gen.choose(0L, 2L)
      k2 <- Gen.choose(0L, 2L)
      t <- Gen.choose(0L, 12L)
      id <- Gen.choose(0L, 999999L)
    } yield (k1, k2, t, id)
    for (seed <- 1L to 4L) {
      val probe = sample(Gen.listOfN(35, rowGen), seed).distinct
      val build = sample(Gen.listOfN(35, rowGen), seed + 90).distinct
      val pdf = probe.toDF("k1", "k2", "t", "pid")
      val bdf = build.toDF("k1", "k2", "t", "bid")
      val brute = probe.map { case (k1, k2, t, pid) =>
        val cand = build.filter(b => b._1 == k1 && b._2 == k2 && b._3 <= t)
        val best = if (cand.isEmpty) None
          else Some(cand.maxBy(b => (b._3, b._4))._4)
        (pid, best)
      }.toMap
      val native = AsofJoinPlan.asof(pdf, bdf, Seq("k1", "k2"), "t", "t",
          "bid", Seq("bid"))
        .select("pid", "asof_bid").as[(Long, Option[Long])].collect().toMap
      assert(native == brute, s"two-key native != brute, seed $seed")
    }
  }

  test("token entropy laws on random corpora: permutation invariance, bounds") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (seed <- 1L to 4L) {
      val docs = sample(Gen.listOfN(20,
        Gen.nonEmptyListOf(Gen.oneOf(vocab))), seed)
      val rng = new scala.util.Random(seed)
      val rows = docs.zipWithIndex.flatMap { case (ts, i) =>
        // each doc paired with a random permutation of itself
        Seq((i.toLong * 2, ts.mkString(" "), "s"),
          (i.toLong * 2 + 1, rng.shuffle(ts).mkString(" "), "s"))
      }
      val dir = java.nio.file.Files.createTempDirectory("entprop").toFile
      try {
        writeDocs(rows, dir.toString)
        val m = graft.llm.TextOps.tokenEntropy(SparkTestSession.spark,
            dir.toString).collect()
          .map(r => (r.getLong(0),
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
        docs.indices.foreach { i =>
          val a = m(i.toLong * 2)
          val b = m(i.toLong * 2 + 1)
          assert(a == b, s"seed $seed doc $i: permutation changed entropy")
          val (n, types, _, ent) = a
          assert(types <= n)
          assert(ent >= 0.0, s"seed $seed doc $i: negative entropy $ent")
          assert(ent <= math.log(types.toDouble) + 1e-6,
            s"seed $seed doc $i: entropy $ent above ln(types)")
        }
      } finally rmTree(dir)
    }
  }

  test("source drift law: a source replicating another's text has identical PSI") {
    val vocab = Vector("one", "two", "three", "four", "five", "six", "seven")
    for (seed <- 1L to 4L) {
      val texts = sample(Gen.listOfN(10,
        Gen.nonEmptyListOf(Gen.oneOf(vocab))), seed).map(_.mkString(" "))
      val other = sample(Gen.listOfN(10,
        Gen.nonEmptyListOf(Gen.oneOf(vocab))), seed + 100).map(_.mkString(" "))
      val rows =
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "sa") } ++
          texts.zipWithIndex.map { case (t, i) => (100L + i, t, "sb") } ++
          other.zipWithIndex.map { case (t, i) => (200L + i, t, "sc") }
      val dir = java.nio.file.Files.createTempDirectory("driftprop").toFile
      try {
        writeDocs(rows, dir.toString)
        val psi = graft.llm.TextOps.sourceDrift(SparkTestSession.spark,
            dir.toString).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        // identical token multisets ⇒ identical counts ⇒ identical PSI bits
        assert(psi("sa") == psi("sb"),
          s"seed $seed: replicated source diverged: ${psi("sa")} vs ${psi("sb")}")
        psi.values.foreach { case (_, p) => assert(p >= 0.0) }
      } finally rmTree(dir)
    }
  }

  test("banded Hamming pairs == brute force in BOTH regimes, across the multi-probe boundary") {
    import spark.implicits._
    // radii straddling the exact-banding/multi-probe switch at 8,
    // including clustered sigs (planted near-dups) and uniform noise
    val sigGen = for {
      base <- Gen.long
      flips <- Gen.chooseNum(0, 18)
      bits <- Gen.listOfN(flips, Gen.chooseNum(0, 63))
    } yield bits.foldLeft(base)((s, b) => s ^ (1L << b))
    for (seed <- 1L to 4L; maxDist <- Seq(3, 7, 8, 11, 14)) {
      val sigs = sample(Gen.listOfN(60, sigGen), seed * 100 + maxDist)
        .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val df = sigs.toDF("doc_id", "sig")
      val got = graft.llm.Dedup.bandedHammingPairs(df, maxDist)
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = (for {
        (a, sa) <- sigs; (b, sb) <- sigs if a < b
        if java.lang.Long.bitCount(sa ^ sb) <= maxDist
      } yield (a, b)).toSet
      assert(got == brute, s"maxDist=$maxDist seed=$seed")
    }
  }

  test("maximal-span interval merge: random window sets match a brute fold; intervals disjoint and separated") {
    import spark.implicits._
    def brute(ps: Seq[Int], k: Int): Seq[(Int, Int, Int)] =
      ps.sorted.foldLeft(Vector.empty[(Int, Int, Int)]) {
        case (acc, p) if acc.nonEmpty && p <= acc.last._2 + 1 =>
          acc.init :+ ((acc.last._1, math.max(acc.last._2, p + k - 1),
            acc.last._3 + 1))
        case (acc, p) => acc :+ ((p, p + k - 1, 1))
      }
    for (seed <- 1L to 8L; k <- Seq(2, 5, 15)) {
      val ps = sample(Gen.listOfN(40, Gen.chooseNum(1, 150)), seed * 31 + k)
        .distinct.sorted
      val df = Seq((1L, ps)).toDF("doc_id", "dps")
      val got = graft.llm.TextOps.mergedIvs(df, k)
        .select(explode(col("ivs")).as("iv"))
        .select(col("iv.s"), col("iv.e"), col("iv.nw"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
        .sortBy(_._1)
      val want = brute(ps, k)
      assert(got == want, s"seed=$seed k=$k\n$got\n$want")
      // structural laws: intervals sorted, disjoint AND separated by a
      // true gap (adjacent coverage must have merged), window-count
      // conservation, every interval at least one window long
      got.sliding(2).foreach {
        case Seq((_, e1, _), (s2, _, _)) => assert(s2 > e1 + 1)
        case _ => ()
      }
      assert(got.map(_._3).sum == ps.length)
      assert(got.forall { case (s, e, _) => e - s + 1 >= k })
    }
  }
}
