package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shuffle-management techniques a 100 TB deployment leans on,
  * packaged as utilities so they're testable here and liftable into any
  * pipeline: bucketed tables for shuffle-free co-located joins, and key
  * salting for skewed aggregations. (AQE's skew-join handling covers the
  * join case at runtime; salting remains the tool for skewed
  * AGGREGATIONS, where AQE can't split a hot key.)
  */
object ScaleTechniques {

  /** Write both sides bucketed (+sorted) on the join key: subsequent
    * joins between the tables read co-located buckets and plan with NO
    * shuffle exchange on either side. BucketingSpec asserts the plan. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 8): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned layout: one directory per value of
    * `partitionCol`. A filter on the partition column then prunes whole
    * directories at PLANNING time (`PartitionFilters` in the scan, zero
    * IO for pruned partitions) — at 100 TB this is the difference
    * between scanning a day and scanning a decade. Pair with a
    * low-cardinality column (date, source, event_type); high-cardinality
    * keys belong in bucketing instead (small-files explosion otherwise). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Skew-safe two-phase aggregation: spread each group over `salts`
    * sub-groups (partial agg per (key, salt)), then combine. The hot key
    * that would pin one reducer is split across `salts` tasks; results
    * are identical because count/sum compose associatively. */
  def saltedCountSum(df: DataFrame, key: Column, value: Column,
      salts: Int = 16): DataFrame =
    df.select(key.as("k"), value.as("v"))
      .withColumn("salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(col("k"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("v")).as("ps"))
      .groupBy(col("k"))
      .agg(sum(col("pc")).as("cnt"), sum(col("ps")).as("sum_v"))

  /** Runtime bloom-filter join pruning, via Catalyst's own
    * InjectRuntimeFilter rule rather than hand-rolled UDF filtering:
    * when one join side is selective (a filtered dim too big to
    * broadcast), Spark builds a bloom filter from its creation-side keys
    * and injects `might_contain` into the OTHER side's scan, dropping
    * non-joining rows BEFORE the shuffle. At 100 TB that turns a
    * fact-table-sized exchange into a match-sized one. This helper pins
    * the confs that arm the rule (off the thresholds by default for
    * tiny test inputs) — production keeps the defaults, which arm it
    * only when the application side exceeds 10 GB.
    * ScaleTechniquesSpec plan-asserts the injected BloomFilter
    * aggregate + might_contain probe and result parity with the plain
    * join. */
  def withRuntimeBloomFilter[A](spark: SparkSession)(body: => A): A = {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // force a shuffle join: broadcast joins don't need (or get) the filter
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Skew diagnostics — the report you read BEFORE reaching for
    * [[saltedCountSum]], AQE skew settings, or a broadcast: the top-N
    * heaviest keys with their share of all rows. One aggregation on the
    * key (map-side combined, so the hot key itself doesn't hurt the
    * diagnosis) + a TakeOrdered; the 1-row total rides a window over
    * the aggregated (bounded) frame, not the input. A key with share
    * ≳ 1/shufflePartitions is the reducer that will run hot. */
  def skewReport(df: DataFrame, key: Column, topN: Int = 10): DataFrame = {
    // total via a 1-row aggregate broadcast onto the top-N, NOT an
    // empty-partitionBy window: that window funnels the ENTIRE keyed
    // aggregate through one partition — at a 100 TB key cardinality,
    // exactly the hot-reducer shape this report exists to diagnose.
    // Both legs derive from the same aggregate, so the shuffle exchange
    // is planned once and reused.
    val counts = df.select(key.as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("rows"))
    counts.orderBy(col("rows").desc, col("k")).limit(topN)
      .crossJoin(broadcast(counts.agg(sum(col("rows")).as("total"))))
      .select(col("k"), col("rows"),
        round(col("rows").cast("double") / col("total"), 6).as("share"))
  }

  /** Pre-flight inner-join cardinality estimate from two count-min
    * sketches — the check you run BEFORE a join that might explode:
    * |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated as Σ est_A(k)·est_B(k)
    * over the probe side's distinct keys. Both sketches build in one
    * treeAggregate pass each and broadcast; the candidate scan is
    * distributed ([[graft.functions.CmsSketch.estimate]]'s shape). CMS
    * estimates are one-sided (≥ true frequency), so the estimate NEVER
    * under-predicts the blow-up — exactly the direction a pre-flight
    * guard must err (ScaleTechniquesSpec pins the bound and the
    * ≤(1+ε·heft) slack on real join keys). At 100 TB this replaces a
    * dry-run join with two scans and a key-list pass. */
  def joinCardinalityEstimate(a: DataFrame, aKey: String,
      b: DataFrame, bKey: String, eps: Double = 0.0001,
      confidence: Double = 0.99, seed: Int = 42): Long = {
    import graft.functions.CmsSketch
    val spark = a.sparkSession
    val skA = spark.sparkContext.broadcast(
      CmsSketch.sketchBytes(a.select(col(aKey)), aKey, eps, confidence, seed))
    val skB = spark.sparkContext.broadcast(
      CmsSketch.sketchBytes(b.select(col(bKey)), bKey, eps, confidence, seed))
    import spark.implicits._
    // null keys never join (inner-join semantics), and a null would NPE
    // the non-nullable Long decode below — drop them from the probe set
    val keys = b.filter(col(bKey).isNotNull)
      .select(col(bKey).cast("long")).distinct().as[Long]
    val terms = keys.mapPartitions { it =>
      val cmsA = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skA.value))
      val cmsB = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skB.value))
      it.map(k => cmsA.estimateCount(k) * cmsB.estimateCount(k))
    }
    // agg(sum), not Dataset.reduce: reduce throws on an EMPTY probe side
    // (no keys ⇒ no partial results), where the correct estimate is 0
    terms.toDF("est")
      .agg(coalesce(sum(col("est")), lit(0L))).head().getLong(0)
  }

  /** Rows per physical partition of `df` as it stands — the direct
    * reading of whether a repartition/AQE decision balanced the work.
    * `spark_partition_id` is evaluated per row at scan/compute time, so
    * this counts the REAL layout, not a planned one. */
  def partitionSizes(df: DataFrame): DataFrame =
    df.select(spark_partition_id().as("pid"))
      .groupBy(col("pid")).agg(count(lit(1)).as("rows"))
      .orderBy(col("pid"))

  /** Morton/Z-value: bit-interleave of two dimensions pre-scaled to 16
    * bits — sorting by it clusters BOTH dimensions at once, so each
    * output file's (min,max) box is small in every dimension and a
    * predicate on ANY of them skips most files. The data-skipping move
    * for multi-dimensional workloads where a linear sort only helps its
    * leading column (the technique Delta/Iceberg expose as OPTIMIZE
    * ZORDER BY; Morton 1966). */
  def zorderValue(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Write `df` laid out in Z-order on (colA, colB) into ~`nFiles`
    * range-partitioned files. The min/max normalization stats are a
    * 4-scalar driver-side aggregate (bounded at any corpus size); the
    * write is one range shuffle on the z-value — the same cost as any
    * global sort — and rows are unchanged (the z column is dropped
    * before write). ScaleTechniquesSpec measures the skipping: a
    * predicate on the SECOND dimension intersects far fewer z-ordered
    * files than linearly-sorted ones. */
  def zorderWrite(df: DataFrame, colA: String, colB: String, path: String,
      nFiles: Int): Unit = {
    val s = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    def scaled(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lit(lo)) * lit(65535.0) / lit(hi - lo))
        .cast("long")
    df.withColumn("_z", zorderValue(
        scaled(colA, s.getDouble(0), s.getDouble(1)),
        scaled(colB, s.getDouble(2), s.getDouble(3))))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Registered query over [[saltedCountSum]]: per-category transaction
    * count + amount sum with the hot category spread over 16 salted
    * sub-groups. Results are EXACTLY the plain GROUP BY (the oracle is
    * the unsalted SQL): count/sum compose associatively, and the amount
    * is summed in DECIMAL through both phases so no floating summation
    * order can leak into the result. The category column is the skew
    * case salting exists for — a handful of distinct values over the
    * whole corpus, so the unsalted final agg sees ≤ |categories|·salts
    * tiny partial rows while the heavy first phase spreads evenly. */
  def saltedAggQuery(spark: SparkSession, dir: String): DataFrame =
    saltedCountSum(graft.Tables.transactions(spark, dir), col("category"),
      col("amount").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .select(col("k").as("category"), col("cnt"),
        round(col("sum_v").cast("double"), 2).as("sum_amount"))

  val saltedAggSql: String =
    s"""WITH tx AS (${graft.Tables.transactionsSql})
       |SELECT category, CAST(count(*) AS BIGINT) AS cnt,
       |  round(CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_amount
       |FROM tx GROUP BY 1""".stripMargin

  /** One armed clone per parent session, reused: Spark's codegen cache
    * does not serve a fresh clone, so a clone per call compiled the
    * query's ~19 classes again each time. Weak keys; a stopped one is
    * rebuilt. */
  private val armedSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def armedSession(spark: SparkSession): SparkSession = armedSessions.synchronized {
    Option(armedSessions.get(spark)).filterNot(_.sparkContext.isStopped).getOrElse {
      val s = spark.newSession()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      armedSessions.put(spark, s)
      s
    }
  }

  /** Registered query exercising [[withRuntimeBloomFilter]] end-to-end:
    * a selective orders filter joined to lineitem as a SHUFFLE join
    * (broadcast disabled), with Catalyst's runtime bloom filter armed so
    * the lineitem side is pruned BEFORE its exchange. Built on a CLONED
    * session: the runtime-filter rule reads session conf at EXECUTION
    * time, and a registered query is consumed lazily long after a
    * save/restore block would have reverted the conf — the clone scopes
    * the arming to this query without perturbing the shared session.
    * Result parity with the plain join is the oracle; ScaleTechniquesSpec
    * plan-asserts the injected might_contain probe. */
  def bloomJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = armedSession(spark)
    val sel = graft.Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    graft.Tables.lineitem(s, dir)
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double"), 2)
          .as("sum_price"))
  }

  val bloomJoinSql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1""".stripMargin
}
