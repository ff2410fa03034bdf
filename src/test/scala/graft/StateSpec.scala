package graft

import graft.state.JdbcUpsertStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Derby-backed state store: additive merge semantics (K2/K3/J5/A7) and
  * the batch-vs-stream parity invariant (SURVEY.md §5.3): state after N
  * incremental batches equals a one-shot whole-table aggregation. */
class StateSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  private def freshStore(tag: String) =
    JdbcUpsertStore.derby(s"target/derby-test-$tag-${System.nanoTime()}")

  private def txWithBucket(n: Int) =
    Tables.transactions(spark, sf).withColumn("b", pmod(col("customer"), lit(n)))

  private def deltas(df: org.apache.spark.sql.DataFrame) = (
    df.groupBy(col("merchant").cast("string").as("merchant_id"))
      .agg(count(lit(1)).as("total_transactions")),
    df.groupBy(col("customer").cast("string").as("customer_id"),
        col("merchant").cast("string").as("merchant_id"))
      .agg(count(lit(1)).as("transaction_count"),
        sum(col("amount").cast(DecimalType(18, 2))).as("total_amount_sum")),
    df.groupBy(col("merchant").cast("string").as("merchant_id"))
      .agg(sum(when(col("gender") === "M", 1L).otherwise(0L)).as("male_transaction_count"),
        sum(when(col("gender") === "F", 1L).otherwise(0L)).as("female_transaction_count")))

  test("N incremental batches == one-shot aggregation (additive merge)") {
    val store = freshStore("parity")
    try {
      val tx = txWithBucket(3).cache()
      for (b <- 0 until 3) {
        val (m, cm, g) = deltas(tx.filter(col("b") === b))
        store.applyDeltas(m, cm, g)
      }
      val (me, cme, ge) = deltas(tx)
      val gotM = store.merchantSummary(spark)
      assert(gotM.exceptAll(me).isEmpty && me.exceptAll(gotM).isEmpty)
      val gotCm = store.custMerchantSummary(spark)
        .withColumn("total_amount_sum", col("total_amount_sum").cast(DecimalType(28, 2)))
      val wantCm = cme.withColumn("total_amount_sum",
        col("total_amount_sum").cast(DecimalType(28, 2)))
      assert(gotCm.exceptAll(wantCm).isEmpty && wantCm.exceptAll(gotCm).isEmpty)
      val gotG = store.genderSummary(spark)
      assert(gotG.exceptAll(ge).isEmpty && ge.exceptAll(gotG).isEmpty)
    } finally store.close()
  }

  test("a wide-decimal delta keeps its cents (DerbyDialect precision>31 cap)") {
    // sum(sum(DECIMAL(18,2))) = DECIMAL(38,2): the temp table takes the
    // DDL's DECIMAL(18,2) from init, not the delta's type (a temp column
    // typed from the delta through Spark's DerbyDialect was
    // DECIMAL(31,0), and the cents vanished)
    val store = freshStore("widecents")
    try {
      import spark.implicits._
      val wide = Seq(("c1", "m1", 2L, BigDecimal("123.45")))
        .toDF("customer_id", "merchant_id", "transaction_count", "total_amount_sum")
        .withColumn("total_amount_sum",
          col("total_amount_sum").cast(DecimalType(38, 2)))
      val (m, _, g) = deltas(txWithBucket(2).filter(col("b") === 0).limit(1))
      store.applyDeltas(m, wide, g)
      store.applyDeltas(m, wide, g) // accumulate once more: 246.90
      val got = store.custMerchantSummary(spark)
        .filter(col("customer_id") === "c1")
        .select(col("total_amount_sum").cast("string")).collect()
      assert(got.map(_.getString(0)).toSeq == Seq("246.90"))
    } finally store.close()
  }

  test("a null-only amount sum adds 0: inserts as 0.00, then adds 0") {
    // a (customer, merchant) pair whose amounts are all null has a null
    // delta sum (Spark `sum`); the NOT NULL total_amount_sum must not
    // fail the batch — the reference's COALESCE(…, 0) ("Mechanism Y.py":178)
    val store = freshStore("nullsum")
    try {
      import spark.implicits._
      val nullSum = Seq(("c1", "m1", 1L, Option.empty[BigDecimal]))
        .toDF("customer_id", "merchant_id", "transaction_count", "total_amount_sum")
        .withColumn("total_amount_sum", col("total_amount_sum").cast(DecimalType(18, 2)))
      val (m, _, g) = deltas(txWithBucket(2).filter(col("b") === 0).limit(1))
      def pair() = store.custMerchantSummary(spark).filter(col("customer_id") === "c1")
        .select(col("transaction_count"), col("total_amount_sum").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      store.applyDeltas(m, nullSum, g)
      assert(pair() == Seq((1L, "0.00")))
      store.applyDeltas(m, nullSum, g) // on the existing row: adds 0
      assert(pair() == Seq((2L, "0.00")))
    } finally store.close()
  }

  test("at-least-once default double-counts a replayed batch (reference parity)") {
    val store = freshStore("alo")
    try {
      val (m, cm, g) = deltas(txWithBucket(3).filter(col("b") === 0))
      store.applyDeltas(m, cm, g)
      store.applyDeltas(m, cm, g) // replay
      val doubled = store.merchantSummary(spark)
        .join(m.withColumnRenamed("total_transactions", "once"), Seq("merchant_id"))
        .filter(col("total_transactions") =!= col("once") * 2)
      assert(doubled.count() == 0)
    } finally store.close()
  }

  test("epoch-fenced mode is idempotent under replay") {
    val store = freshStore("idem")
    try {
      val (m, cm, g) = deltas(txWithBucket(3).filter(col("b") === 0))
      store.applyDeltas(m, cm, g, Some(7L))
      store.applyDeltas(m, cm, g, Some(7L)) // same epoch: fenced out
      val changed = store.merchantSummary(spark)
        .join(m.withColumnRenamed("total_transactions", "once"), Seq("merchant_id"))
        .filter(col("total_transactions") =!= col("once"))
      assert(changed.count() == 0)
    } finally store.close()
  }

  test("pruned read returns exactly the requested keys") {
    val store = freshStore("prune")
    try {
      val (m, cm, g) = deltas(txWithBucket(1))
      store.applyDeltas(m, cm, g)
      val keys = m.select("merchant_id").limit(3).collect().map(_.getString(0)).toSeq
      val got = store.merchantSummaryFor(spark, keys)
      assert(got.count() == keys.size)
      assert(got.select("merchant_id").collect().map(_.getString(0)).toSet == keys.toSet)
      // the two other pruned reads: every returned row is for a requested
      // merchant, and every requested merchant with state shows up
      val gotCm = store.custMerchantSummaryFor(spark, keys)
      assert(gotCm.select("merchant_id").distinct().collect()
        .map(_.getString(0)).toSet == keys.toSet)
      val gotG = store.genderSummaryFor(spark, keys)
      assert(gotG.select("merchant_id").collect()
        .map(_.getString(0)).toSet == keys.toSet)
      // empty key list → empty frame, not a full scan
      assert(store.merchantSummaryFor(spark, Nil).isEmpty)
    } finally store.close()
  }

  test("semi-join pruned read (wide batches) returns the same rows as the IN-list form") {
    // threshold 0 forces every pruned read through the keys-temp-table
    // semi-join — the O(1)-statement path wide batches take
    val dir = s"target/derby-test-semijoin-${System.nanoTime()}"
    val store = new graft.state.JdbcUpsertStore(
      s"jdbc:derby:$dir;create=true", semiJoinKeyThreshold = 0)
    store.init()
    try {
      val (m, cm, g) = deltas(txWithBucket(1))
      store.applyDeltas(m, cm, g)
      val keys = m.select("merchant_id").collect().map(_.getString(0)).toSeq
      val some = keys.take(7)
      val gotM = store.merchantSummaryFor(spark, some)
      val wantM = m.filter(col("merchant_id").isin(some: _*))
      assert(gotM.exceptAll(wantM).isEmpty && wantM.exceptAll(gotM).isEmpty)
      val gotCm = store.custMerchantSummaryFor(spark, some)
      assert(gotCm.select("merchant_id").distinct().collect()
        .map(_.getString(0)).toSet == some.toSet)
      assert(store.merchantSummaryFor(spark, Nil).isEmpty)
    } finally store.close()
  }

  test("semi-join keys tables left by a store that was never closed do not break the next one") {
    val url = s"jdbc:derby:target/derby-test-keysleft-${System.nanoTime()};create=true"
    val first = new JdbcUpsertStore(url, semiJoinKeyThreshold = 0)
    first.init()
    val (m, cm, g) = deltas(txWithBucket(1))
    first.applyDeltas(m, cm, g)
    val some = m.select("merchant_id").collect().map(_.getString(0)).toSeq.take(3)
    assert(first.merchantSummaryFor(spark, some).count() == 3) // its keys table stays
    val next = new JdbcUpsertStore(url, semiJoinKeyThreshold = 0) // same key-table names
    next.init()
    try assert(next.merchantSummaryFor(spark, some).count() == 3)
    finally next.close()
  }

  test("dialect golden strings: postgresql URL → ON CONFLICT, Derby → MERGE INTO") {
    // a jdbc:postgresql: store must emit the reference's upsert form —
    // PG14 has no MERGE ("Mechanism Y.py":152-160); constructing the
    // store does not connect, so the SQL shape is testable without PG
    val pg = new JdbcUpsertStore("jdbc:postgresql://host/db")
    val pgSql = pg.upsertSql("customer_merchant_summary", "temp_cms_updates",
      Seq("customer_id", "merchant_id"), Seq("transaction_count", "total_amount_sum"))
    assert(pgSql.contains("ON CONFLICT (customer_id, merchant_id) DO UPDATE"))
    assert(pgSql.contains(
      "total_amount_sum = COALESCE(customer_merchant_summary.total_amount_sum, 0) " +
        "+ COALESCE(EXCLUDED.total_amount_sum, 0)"))
    assert(!pgSql.contains("MERGE INTO"))
    assert(pg.fenceStatement("merchant_summary", 7L)
      .contains("ON CONFLICT (table_name, epoch_id) DO NOTHING"))

    val derby = freshStore("dialect")
    try {
      val dSql = derby.upsertSql("merchant_summary", "temp_mts_updates",
        Seq("merchant_id"), Seq("total_transactions"))
      assert(dSql.contains("MERGE INTO merchant_summary"))
      assert(dSql.contains("t.total_transactions = t.total_transactions + s.\"total_transactions\""))
      assert(!dSql.contains("ON CONFLICT"))
      assert(derby.fenceStatement("merchant_summary", 7L).contains("WHERE NOT EXISTS"))
    } finally derby.close()
  }

  test("fence + merge are one transaction: a failed merge leaves the epoch replayable") {
    val dir = s"target/derby-test-atomic-${System.nanoTime()}"
    val store = JdbcUpsertStore.derby(dir)
    def raw(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$dir")
      try { val st = c.createStatement(); try st.executeUpdate(sql) finally st.close() }
      finally c.close()
    }
    try {
      val (m, cm, g) = deltas(txWithBucket(3).filter(col("b") === 0))
      // break the merge target AFTER init: the fence insert will succeed,
      // then the merge throws — with two autocommitted statements the
      // epoch would now be permanently fenced out and the delta lost
      raw("RENAME TABLE merchant_summary TO merchant_summary_bak")
      intercept[Exception] { store.applyDeltas(m, cm, g, Some(5L)) }
      raw("RENAME TABLE merchant_summary_bak TO merchant_summary")
      // replaying the SAME epoch must apply (fence was rolled back)
      store.applyDeltas(m, cm, g, Some(5L))
      val gotM = store.merchantSummary(spark)
      assert(gotM.exceptAll(m).isEmpty && m.exceptAll(gotM).isEmpty)
    } finally store.close()
  }

  test("upserts run under their caller's job group, not a pooled thread's stale one") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    val sc = spark.sparkContext
    // (job group, is an upsert job) per job, in submission order
    val jobs = new LinkedBlockingQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put((
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"),
        e.stageInfos.exists(_.details.contains("JdbcUpsertStore"))))
    }
    def inGroup(group: String)(body: => Unit): Unit = {
      @volatile var failure: Throwable = null
      val t = new Thread(() =>
        try { sc.setJobGroup(group, group); body }
        catch { case e: Throwable => failure = e })
      t.start(); t.join()
      if (failure != null) throw failure
    }
    /** Groups of the upsert jobs `body` runs in `group`. A barrier job
      * follows it: the listener bus delivers in order, so once the
      * barrier shows, every earlier job has too. */
    def upsertGroups(group: String)(body: => Unit): Seq[String] = {
      inGroup(group)(body)
      inGroup(s"barrier-$group")(sc.parallelize(Seq(1)).count())
      Iterator.continually(Option(jobs.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("listener bus stalled")))
        .takeWhile(_._1 != s"barrier-$group")
        .collect { case (g, true) => g }.toSeq
    }
    val store = freshStore("groups")
    sc.addSparkListener(listener)
    try {
      val (m, cm, g) = deltas(txWithBucket(3).filter(col("b") === 0))
      for (caller <- Seq("graft-caller-a", "graft-caller-b")) {
        val groups = upsertGroups(caller)(store.applyDeltas(m, cm, g))
        assert(groups.nonEmpty, caller)
        assert(groups.forall(_ == caller), s"$caller's upserts ran as $groups")
      }
    } finally {
      sc.removeSparkListener(listener)
      store.close()
    }
  }

  test("applyDeltas on driver-local frames starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import graft.streaming.MicroBatchRunner._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = "graft-local-deltas"
    val barrier = s"barrier-$group"
    // job group per started job, in submission order
    val jobs = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    def local(rows: Seq[Row], schema: StructType) = spark.createDataFrame(rows.asJava, schema)
    val m = local(Seq(Row("m1", 3L), Row("m2", 1L)), merchantStateSchema)
    val cm = local(Seq(Row("c1", "m1", 3L, new java.math.BigDecimal("12.34")),
      Row("c2", "m2", 1L, new java.math.BigDecimal("5.00"))), custMerchantStateSchema)
    val g = local(Seq(Row("m1", 2L, 1L), Row("m2", 0L, 1L)), genderStateSchema)
    val store = freshStore("localjobs")
    sc.addSparkListener(listener)
    try {
      @volatile var failure: Throwable = null
      val t = new Thread(() =>
        try {
          sc.setJobGroup(group, group)
          store.applyDeltas(m, cm, g, Some(1L))
          // the listener bus delivers in order: once this barrier job
          // shows, every job applyDeltas started has shown too
          sc.setJobGroup(barrier, barrier)
          sc.parallelize(Seq(1)).count()
        } catch { case e: Throwable => failure = e })
      t.start(); t.join()
      if (failure != null) throw failure
      val started = Iterator.continually(Option(jobs.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("listener bus stalled")))
        .takeWhile(_ != barrier).count(_ == group)
      assert(started == 0, s"applyDeltas started $started Spark jobs")
      assert(store.merchantSummary(spark).collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap == Map("m1" -> 3L, "m2" -> 1L))
    } finally {
      sc.removeSparkListener(listener)
      store.close()
    }
  }
}
