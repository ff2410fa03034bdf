package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The reference's three fraud-detection pattern queries
  * ("Mechanism Y.py":223-244, README.md:206-214) as composable
  * transformers over the three running-state shapes:
  *
  *   merchant_summary(merchant_id, total_transactions)
  *   customer_merchant_summary(customer_id, merchant_id,
  *                             transaction_count, total_amount_sum)
  *   merchant_gender_summary(merchant_id, male_transaction_count,
  *                           female_transaction_count)
  *
  * The same functions serve batch mode (state = whole-history aggregate,
  * used by the oracle-checked queries) and streaming mode (state comes
  * from the [[graft.state.StateStore]] after N micro-batches) — the
  * batch-vs-streaming parity invariant in StateSpec/StreamingSpec.
  *
  * Detection contract: 6 string columns YStartTime, DetectionTime,
  * PatternId, ActionType, CustomerName, MerchantId
  * ("Mechanism Y.py":60-64, README.md:62). Wall-clock is injected
  * ([[Clock]]) so tests and oracles are deterministic (SURVEY.md §7
  * hard-part d).
  *
  * Thresholds mirror the reference's hard-coded test config
  * ("Mechanism Y.py":225-227), re-scaled for the testdata distributions
  * (supplier tx counts ~600 at sf0.01; pair counts 1..6; avg amounts
  * ~9k..98k).
  */
object Patterns {

  /** Deterministic clock for detection timestamps. */
  final case class Clock(ystart: String, now: String)
  val FixedClock: Clock = Clock("2026-01-01 00:00:00", "2026-01-01 00:00:30")

  final case class Config(
      merchantTxThreshold: Long = 550L,
      custTxThreshold: Long = 2L,
      detectionPercentile: Double = 0.10,
      childTxMin: Long = 3L,
      childAvgMax: Double = 31000.0,
      deiFemaleMin: Long = 2L)
  val DefaultConfig: Config = Config()

  private def detection(patternId: String, actionType: String,
      customerName: org.apache.spark.sql.Column,
      merchantId: org.apache.spark.sql.Column, clock: Clock): Seq[org.apache.spark.sql.Column] =
    Seq(
      lit(clock.ystart).as("YStartTime"),
      lit(clock.now).as("DetectionTime"),
      lit(patternId).as("PatternId"),
      lit(actionType).as("ActionType"),
      customerName.cast("string").as("CustomerName"),
      merchantId.cast("string").as("MerchantId"))

  /** PatId1 "UPGRADE" ("Mechanism Y.py":231-239): merchants whose
    * cumulative transaction volume exceeds the threshold × customer-merchant
    * pairs with enough transactions × (customer, merchant) pairs whose
    * importance weight sits below the per-(merchant, category) detection
    * percentile; distinct on the assembled detections.
    *
    * Join shape at scale: the three inputs are all aggregates (small
    * relative to the fact table), so AQE broadcasts the two smaller sides;
    * nothing here touches raw 100 TB rows twice.
    */
  def patId1(merchantSummary: DataFrame, custMerchantSummary: DataFrame,
      lowWeightPairs: DataFrame, cfg: Config = DefaultConfig,
      clock: Clock = FixedClock): DataFrame = {
    val active = activeMerchants(merchantSummary, cfg)
      .select(col("merchant_id").as("upg_mid"))
    val highTx = custMerchantSummary
      .filter(col("transaction_count") > cfg.custTxThreshold)
      .select(col("customer_id").as("upg_cid"), col("merchant_id").as("upg_mid_cust"))
    val lw = lowWeightPairs
      .select(col("customer").as("lw_cid"), col("merchant").as("lw_mid"))
    active
      .join(highTx, col("upg_mid") === col("upg_mid_cust"), "inner")
      .join(lw, col("upg_mid") === col("lw_mid") && col("upg_cid") === col("lw_cid"), "inner")
      .select(detection("PatId1", "UPGRADE", col("upg_cid"), col("upg_mid"), clock): _*)
      .distinct()
  }

  /** PatId2 "CHILD" ("Mechanism Y.py":243): pure state query — pairs with
    * transaction_count >= min and null-safe average amount below the cap.
    * The average is coalesce(sum,0)/coalesce(count,1), matching the
    * reference's null-safe division (P3). */
  def patId2(custMerchantSummary: DataFrame, cfg: Config = DefaultConfig,
      clock: Clock = FixedClock): DataFrame =
    custMerchantSummary
      .withColumn("avg_tx_val",
        coalesce(col("total_amount_sum"), lit(0.0)) /
        coalesce(col("transaction_count"), lit(1L)))
      .filter(col("transaction_count") >= cfg.childTxMin &&
        col("avg_tx_val") < cfg.childAvgMax)
      .select(detection("PatId2", "CHILD", col("customer_id"), col("merchant_id"), clock): _*)

  /** PatId3 "DEI-NEEDED" ("Mechanism Y.py":244): merchants where female
    * transactions trail male but exceed the floor; CustomerName = "". */
  def patId3(genderSummary: DataFrame, cfg: Config = DefaultConfig,
      clock: Clock = FixedClock): DataFrame =
    genderSummary
      .filter(col("female_transaction_count") < col("male_transaction_count") &&
        col("female_transaction_count") > cfg.deiFemaleMin)
      .select(detection("PatId3", "DEI-NEEDED", lit(""), col("merchant_id"), clock): _*)

  /** U1 — union-by-name fold of the detection DataFrames with the
    * empty-string fill the reference applies before union
    * ("Mechanism Y.py":247-260). Seeding from an explicit empty frame is
    * unnecessary in Scala — unionByName over a non-empty list preserves
    * the schema; empty inputs are skipped by unionByName semantics. */
  def unionDetections(dfs: Seq[DataFrame]): DataFrame =
    dfs.map(_.na.fill("")).reduce(_ unionByName _)

  // ---- streaming detection stage, shared by both state backends ----
  //
  // J1/J2 are a pure function of the static importance dim, so the
  // low-weight (customer, merchant, category) triples are computed once
  // per dim and held on the driver ([[LowWeightSet]]). A batch only
  // looks its own triples up in them: on the driver when the batch is
  // there too (the JDBC runner), else by a semi-join against the set as
  // a local frame (the native backend).

  /** The low-weight triples of one importance dim, on the driver. Keys
    * have the dim's own types ([[keySchema]]); a batch key must be cast
    * to them before a lookup, as the J1 join's type coercion would. */
  final class LowWeightSet private[Patterns] (val keySchema: StructType,
      val triples: Set[(Any, Any, Any)]) {
    def contains(customer: Any, merchant: Any, category: Any): Boolean =
      triples((customer, merchant, category))
  }

  /** J1/J2 of the streaming stage ("Mechanism Y.py":68-89, 221-239),
    * computed once: the distinct (customer, merchant, category) triples
    * of `importanceDim` whose weight sits below the per-(merchant,
    * category) `percentile_approx` threshold, collected to the driver.
    * Triples with a null key are dropped: no join ever matches them.
    * The reference's missing-threshold fallback (weight < 2.0 when
    * p_weight is null, ":236-237") cannot fire here: the thresholds
    * aggregate the same dim the weight comes from, so a non-null weight
    * always has a non-null p_weight in its group. Batch mode's
    * [[lowWeightDetectionPairs]] stays separate: it uses exact
    * `percentile` for oracle parity. */
  def lowWeightSet(importanceDim: DataFrame, cfg: Config = DefaultConfig): LowWeightSet = {
    val keys = Seq("customer", "merchant", "category")
    val thresholds = importanceDim
      .groupBy(col("merchant").as("merchant_key"), col("category").as("category_key"))
      .agg(expr(s"percentile_approx(weight, ${cfg.detectionPercentile}, 10000)")
        .as("p_weight"))
    val low = importanceDim.join(thresholds,
        importanceDim("merchant") === thresholds("merchant_key") &&
        importanceDim("category") === thresholds("category_key"))
      .filter(col("weight") < col("p_weight"))
      .select(keys.map(importanceDim(_)): _*)
      .na.drop()
      .distinct()
    new LowWeightSet(low.schema, low.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet)
  }

  /** The per-batch J1/J2 step over a [[lowWeightSet]] computed once:
    * the distinct (customer, merchant) pairs of `pairs` (columns
    * customer, merchant, category) that are low-weight triples, as a
    * left-semi join against the set's broadcast local frame. */
  def streamLowWeightPairs(importanceDim: DataFrame,
      cfg: Config = DefaultConfig): DataFrame => DataFrame = {
    val set = lowWeightSet(importanceDim, cfg)
    val low = importanceDim.sparkSession.createDataFrame(
      set.triples.toSeq.map { case (c, m, k) => Row(c, m, k) }.asJava, set.keySchema)
    pairs => pairs.join(broadcast(low),
        pairs("customer") === low("customer") && pairs("merchant") === low("merchant") &&
          pairs("category") === low("category"), "left_semi")
      .select(col("customer"), col("merchant"))
      .distinct()
  }

  /** Merchants past PatId1's volume threshold: at most one row per
    * merchant, small enough to collect for [[patId1Local]]. */
  def activeMerchants(merchantSummary: DataFrame, cfg: Config = DefaultConfig): DataFrame =
    merchantSummary.filter(col("total_transactions") > cfg.merchantTxThreshold)

  /** [[patId1]] with both small sides on the driver: the ids of the
    * [[activeMerchants]] and the batch's low-weight (customer, merchant)
    * pairs. Same rows as the two joins: a pair of the customer-merchant
    * summary is detected when it is one of the low-weight pairs of an
    * active merchant, so the joins become one hash-set filter (`InSet`)
    * on the summary scan. No join means no broadcast, and so no Spark
    * job, for the small sides. The `coalesce(1)` lets the distinct run
    * without an exchange; it costs no parallelism on a one-partition
    * JDBC read, and the filter keeps at most one row per candidate pair
    * (the summary's key). */
  def patId1Local(custMerchantSummary: DataFrame, activeMerchantIds: Set[Any],
      lowWeightPairs: Iterable[(Any, Any)], cfg: Config = DefaultConfig,
      clock: Clock = FixedClock): DataFrame = {
    val candidates = lowWeightPairs.filter(p => activeMerchantIds(p._2)).toSeq
      .map { case (c, m) => struct(lit(c).as("customer_id"), lit(m).as("merchant_id")) }
    custMerchantSummary
      .filter(col("transaction_count") > cfg.custTxThreshold &&
        struct(col("customer_id"), col("merchant_id")).isin(candidates: _*))
      .coalesce(1)
      .select(detection("PatId1", "UPGRADE", col("customer_id"), col("merchant_id"), clock): _*)
      .distinct()
  }

  /** PatId1–3 over one batch's view of the cumulative state, unioned
    * ("Mechanism Y.py":221-260); PatId1 comes built, by [[patId1]] or
    * [[patId1Local]]. */
  def detections(patId1Detections: DataFrame, custMerchantSummary: DataFrame,
      genderSummary: DataFrame, cfg: Config, clock: Clock): DataFrame =
    unionDetections(Seq(patId1Detections,
      patId2(custMerchantSummary, cfg, clock),
      patId3(genderSummary, cfg, clock)))

  // ---- batch-mode wiring over testdata (state = whole-history agg) ----

  /** ONE pass over the fact join at the finest grain every consumer
    * needs — (customer, merchant, category, gender) with count, exact
    * amount sum, exact discount sum — from which all three state tables
    * AND the importance weights roll up. The standalone oracle queries
    * (agg_merchant_count etc.) keep their canonical single-purpose
    * shapes; the pattern pipeline uses this rollup so a 100 TB fact
    * table is scanned once, not four times. All rollup arithmetic is
    * exact (integer counts + DECIMAL sums), so results are bit-identical
    * to the direct aggregations. */
  def finestAgg(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"finestAgg:$dir") {
      // persisted ONCE per sfDir (via Caches.memo); every rollup, the
      // importance weights, and the percentile thresholds read it
      // instead of re-running the fact join+agg — without the cache,
      // Spark recomputes the 586k-group aggregation per consumer (no
      // cross-plan exchange reuse), measured 10× slower. Rolls up from
      // the shared Tables.transactions memo (which carries amount +
      // discount) so the lineitem⋈orders join runs once per session
      // across the pattern tree AND the transaction-view queries; the
      // DECIMAL sums are exact, so the rollup is bit-identical to the
      // direct fused join+agg.
      Tables.transactions(spark, dir)
        .groupBy(col("customer"), col("merchant"), col("category"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("amount").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("amt_sum"),
          sum(col("discount").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .as("disc_sum"))
        .withColumn("gender",
          when(col("customer") % 2 === 0, lit("M")).otherwise(lit("F")))
    }

  /** Second-tier rollup at the (customer, merchant) grain — the ONE
    * shared shuffle all three pattern-state tables derive from. Without
    * it, a union_detections plan aggregates the 586k-row finest grain
    * once per summary (and twice for custMerchantSummary — patId1's
    * highTx side plus patId2 — since Spark does not reuse identical
    * aggregation subplans); with it, those become rollups of a 48.5k-row
    * cached frame. gender rides along because it is a function of the
    * customer key (parity), so the gender summary needs no category
    * grain. Sums stay DECIMAL inside the memo — rounding happens at the
    * consumer — so rollups are bit-identical to direct aggregation. */
  def custMerchantGrain(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"custMerchantGrain:$dir") {
      finestAgg(spark, dir)
        .groupBy(col("customer").as("customer_id"), col("merchant").as("merchant_id"),
          col("gender"))
        .agg(sum(col("cnt")).as("cnt"), sum(col("amt_sum")).as("amt_sum"))
    }

  def merchantSummary(spark: SparkSession, dir: String): DataFrame =
    custMerchantGrain(spark, dir).groupBy(col("merchant_id"))
      .agg(sum(col("cnt")).as("total_transactions"))

  def custMerchantSummary(spark: SparkSession, dir: String): DataFrame =
    custMerchantGrain(spark, dir)
      .select(col("customer_id"), col("merchant_id"),
        col("cnt").as("transaction_count"),
        round(col("amt_sum").cast("double"), 2).as("total_amount_sum"))

  def genderSummary(spark: SparkSession, dir: String): DataFrame =
    custMerchantGrain(spark, dir).groupBy(col("merchant_id"))
      .agg(
        sum(when(col("gender") === "M", col("cnt")).otherwise(0L))
          .as("male_transaction_count"),
        sum(when(col("gender") === "F", col("cnt")).otherwise(0L))
          .as("female_transaction_count"))

  /** The detection-percentile low-weight pair set, memoized: patId1 (and
    * therefore union_detections) re-reads a 2-column cached frame instead
    * of re-running percentile + join + distinct over the finest grain on
    * every invocation. ~84k rows at sf0.1 — cheap to pin. */
  def lowWeightDetectionPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"lowWeightDetectionPairs:$dir") {
      val fin = finestAgg(spark, dir)
      val imp = fin.select(col("customer"), col("merchant"), col("category"),
        round(col("disc_sum").cast("double") / col("cnt"), 6).as("weight"))
      val pct = imp.groupBy(col("merchant").as("merchant_key"), col("category").as("category_key"))
        .agg(round(expr(s"percentile(weight, ${DefaultConfig.detectionPercentile})"), 6)
          .as("p_weight"))
      imp.join(pct,
          imp("merchant") === pct("merchant_key") &&
          imp("category") === pct("category_key"), "inner")
        .filter(col("weight") < col("p_weight"))
        .select(col("customer"), col("merchant"))
        .distinct()
    }

  /** The three detection frames are memoized (r21): they are the
    * reference's standing per-batch artifacts ("Mechanism Y.py":247
    * unions the three detection sets it just built), and
    * union_detections re-assembled all three per warm pass — the
    * summary joins + distinct re-ran four times per suite (once per
    * patid query, once more under the union). Cold attribution is
    * unchanged: Caches.release drops these with every other memo. */
  def patId1Query(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"patid1:$dir") {
      patId1(merchantSummary(spark, dir), custMerchantSummary(spark, dir),
        lowWeightDetectionPairs(spark, dir))
    }

  val patId1QuerySql: String =
    s"""WITH imp AS (${Tables.importanceSql}),
       |tx AS (${Tables.transactionsSql}),
       |pct AS (SELECT merchant AS merchant_key, category AS category_key,
       |          round(quantile_cont(weight, ${DefaultConfig.detectionPercentile}), 6) AS p_weight
       |        FROM imp GROUP BY 1, 2),
       |lw AS (SELECT DISTINCT imp.customer, imp.merchant
       |       FROM imp JOIN pct ON imp.merchant = pct.merchant_key
       |         AND imp.category = pct.category_key
       |       WHERE imp.weight < pct.p_weight),
       |ms AS (SELECT merchant AS merchant_id, count(*) AS total_transactions
       |       FROM tx GROUP BY 1),
       |cms AS (SELECT customer AS customer_id, merchant AS merchant_id,
       |          count(*) AS transaction_count FROM tx GROUP BY 1, 2)
       |SELECT DISTINCT
       |  '${FixedClock.ystart}' AS YStartTime,
       |  '${FixedClock.now}' AS DetectionTime,
       |  'PatId1' AS PatternId, 'UPGRADE' AS ActionType,
       |  CAST(cms.customer_id AS VARCHAR) AS CustomerName,
       |  CAST(ms.merchant_id AS VARCHAR) AS MerchantId
       |FROM ms
       |JOIN cms ON ms.merchant_id = cms.merchant_id
       |JOIN lw ON lw.merchant = ms.merchant_id AND lw.customer = cms.customer_id
       |WHERE ms.total_transactions > ${DefaultConfig.merchantTxThreshold}
       |  AND cms.transaction_count > ${DefaultConfig.custTxThreshold}""".stripMargin

  def patId2Query(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"patid2:$dir") {
      patId2(custMerchantSummary(spark, dir))
    }

  val patId2QuerySql: String =
    s"""WITH tx AS (${Tables.transactionsSql}),
       |cms AS (SELECT customer AS customer_id, merchant AS merchant_id,
       |          CAST(count(*) AS BIGINT) AS transaction_count,
       |          round(CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_amount_sum
       |        FROM tx GROUP BY 1, 2)
       |SELECT '${FixedClock.ystart}' AS YStartTime,
       |  '${FixedClock.now}' AS DetectionTime,
       |  'PatId2' AS PatternId, 'CHILD' AS ActionType,
       |  CAST(customer_id AS VARCHAR) AS CustomerName,
       |  CAST(merchant_id AS VARCHAR) AS MerchantId
       |FROM cms
       |WHERE transaction_count >= ${DefaultConfig.childTxMin}
       |  AND coalesce(total_amount_sum, 0.0) / coalesce(transaction_count, 1)
       |      < ${DefaultConfig.childAvgMax}""".stripMargin

  def patId3Query(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, s"patid3:$dir") {
      patId3(genderSummary(spark, dir))
    }

  val patId3QuerySql: String =
    s"""WITH tx AS (${Tables.transactionsSql}),
       |mgs AS (SELECT merchant AS merchant_id,
       |          sum(CASE WHEN gender = 'M' THEN 1 ELSE 0 END) AS male_transaction_count,
       |          sum(CASE WHEN gender = 'F' THEN 1 ELSE 0 END) AS female_transaction_count
       |        FROM tx GROUP BY 1)
       |SELECT '${FixedClock.ystart}' AS YStartTime,
       |  '${FixedClock.now}' AS DetectionTime,
       |  'PatId3' AS PatternId, 'DEI-NEEDED' AS ActionType,
       |  '' AS CustomerName,
       |  CAST(merchant_id AS VARCHAR) AS MerchantId
       |FROM mgs
       |WHERE female_transaction_count < male_transaction_count
       |  AND female_transaction_count > ${DefaultConfig.deiFemaleMin}""".stripMargin

  def unionDetectionsQuery(spark: SparkSession, dir: String): DataFrame =
    unionDetections(Seq(
      patId1Query(spark, dir), patId2Query(spark, dir), patId3Query(spark, dir)))

  val unionDetectionsQuerySql: String =
    s"""(${patId1QuerySql}) UNION ALL (${patId2QuerySql}) UNION ALL (${patId3QuerySql})"""
}
