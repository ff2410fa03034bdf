package graft

import graft.state.JdbcUpsertStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Derby-backed state store: additive merge semantics (K2/K3/J5/A7) and
  * the batch-vs-stream parity invariant (SURVEY.md §5.3): state after N
  * incremental batches equals a one-shot whole-table aggregation. */
class StateSpec extends AnyFunSuite with BeforeAndAfterEach {
  import SparkTestSession.{sf, spark}

  /** The on-disk Derby databases the running test created. */
  private val derbyDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  private def derbyDir(tag: String): String = {
    val dir = s"target/derby-test-$tag-${System.nanoTime()}"
    derbyDirs += dir
    dir
  }

  /** Shuts down each database the test created (a store it left open
    * included), then deletes its dir. */
  override def afterEach(): Unit = try super.afterEach() finally {
    for (dir <- derbyDirs) {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir;shutdown=true").close()
      catch { case _: java.sql.SQLException => () } // shutdown signals by exception
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
    derbyDirs.clear()
  }

  private def freshStore(tag: String) = JdbcUpsertStore.derby(derbyDir(tag))

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
    // sum(sum(DECIMAL(18,2))) = DECIMAL(38,2): the keyed UPDATE's `?` and
    // the INSERT's column take the target's DECIMAL(18,2) from init, not
    // the delta's type (a column typed from the delta through Spark's
    // DerbyDialect was DECIMAL(31,0), and the cents vanished)
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

  /** 1000 merchant ids with no state: with any present id, a pruned read
    * of them lists more than 1000 keys. */
  private val absentIds = (0 until 1000).map(i => s"absent-$i")

  test("semi-join pruned read (wide batches) returns the same rows as the IN-list form") {
    // more than 1000 ids (the present ones plus absent ones) take every
    // pruned read through the keys-temp-table semi-join — the
    // O(1)-statement path wide batches take
    val dir = derbyDir("semijoin")
    val store = new graft.state.JdbcUpsertStore(s"jdbc:derby:$dir;create=true")
    store.init()
    try {
      val (m, cm, g) = deltas(txWithBucket(1))
      store.applyDeltas(m, cm, g)
      val keys = m.select("merchant_id").collect().map(_.getString(0)).toSeq
      val some = keys.take(7)
      val gotM = store.merchantSummaryFor(spark, some ++ absentIds)
      val wantM = m.filter(col("merchant_id").isin(some: _*))
      assert(gotM.exceptAll(wantM).isEmpty && wantM.exceptAll(gotM).isEmpty)
      val gotCm = store.custMerchantSummaryFor(spark, some ++ absentIds)
      assert(gotCm.select("merchant_id").distinct().collect()
        .map(_.getString(0)).toSet == some.toSet)
      assert(store.merchantSummaryFor(spark, Nil).isEmpty)
    } finally store.close()
  }

  test("semi-join keys tables left by a store that was never closed do not break the next one") {
    val url = s"jdbc:derby:${derbyDir("keysleft")};create=true"
    val first = new JdbcUpsertStore(url)
    first.init()
    val (m, cm, g) = deltas(txWithBucket(1))
    first.applyDeltas(m, cm, g)
    val some = m.select("merchant_id").collect().map(_.getString(0)).toSeq.take(3) ++ absentIds
    assert(first.merchantSummaryFor(spark, some).count() == 3) // its keys table stays
    val next = new JdbcUpsertStore(url) // same key-table names
    next.init()
    try assert(next.merchantSummaryFor(spark, some).count() == 3)
    finally next.close()
  }

  /** The three tables as (keys…, adds…) strings, for whole-state equality. */
  private def snapshot(store: JdbcUpsertStore): Seq[Set[String]] =
    Seq(store.merchantSummary(spark), store.custMerchantSummary(spark), store.genderSummary(spark))
      .map(_.collect().map(_.toSeq.mkString("|")).toSet)

  test("cold key filter: a store reopened over state == one store fed every batch") {
    val tx = txWithBucket(3).cache()
    val batches = (0 until 3).map(b => deltas(tx.filter(col("b") === b)))
    val one = freshStore("cold-one")
    val dir = derbyDir("cold-two")
    try {
      batches.foreach { case (m, cm, g) => one.applyDeltas(m, cm, g) }
      val first = JdbcUpsertStore.derby(dir)
      batches.take(1).foreach { case (m, cm, g) => first.applyDeltas(m, cm, g) }
      first.close()
      // its filter starts from the table's keys: no duplicate-key retry
      val reopened = JdbcUpsertStore.derby(dir)
      try {
        batches.drop(1).foreach { case (m, cm, g) => reopened.applyDeltas(m, cm, g) }
        assert(reopened.duplicateRetries == 0)
        assert(snapshot(reopened) == snapshot(one))
      } finally reopened.close()
    } finally one.close()
  }

  test("stale key filter: a key another store committed retries once on 23505, state == aggregation") {
    val tx = txWithBucket(3).cache()
    val Seq(b0, b1) = (0 until 2).map(b => deltas(tx.filter(col("b") === b)))
    val dir = derbyDir("stale")
    val a = JdbcUpsertStore.derby(dir)
    val b = new JdbcUpsertStore(s"jdbc:derby:$dir")
    try {
      // b's filter is built after a's first commit; a's second batch
      // then commits customer-merchant keys that b's filter lacks
      for ((store, (m, cm, g)) <- Seq(a -> b0, b -> b0, a -> b1, b -> b1))
        store.applyDeltas(m, cm, g)
      assert(a.duplicateRetries == 0 && b.duplicateRetries == 1)
      val both = tx.filter(col("b") < 2)
      val (me, cme, ge) = deltas(both.unionAll(both))
      val gotCm = b.custMerchantSummary(spark)
        .withColumn("total_amount_sum", col("total_amount_sum").cast(DecimalType(28, 2)))
      val wantCm = cme.withColumn("total_amount_sum",
        col("total_amount_sum").cast(DecimalType(28, 2)))
      for ((got, want) <- Seq(b.merchantSummary(spark) -> me, gotCm -> wantCm,
          b.genderSummary(spark) -> ge))
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally { b.close(); a.close() }
  }

  test("a key filter false positive: a key the filter holds but the table lacks is inserted") {
    import spark.implicits._
    val store = freshStore("falsepos")
    try {
      val (m, _, g) = deltas(txWithBucket(2).filter(col("b") === 0).limit(1))
      def cm(rows: (String, Long, String)*) = rows.map { case (c, n, sum) => (c, "m1", n, BigDecimal(sum)) }
        .toDF("customer_id", "merchant_id", "transaction_count", "total_amount_sum")
        .withColumn("total_amount_sum", col("total_amount_sum").cast(DecimalType(18, 2)))
      store.applyDeltas(m, cm(("c0", 1L, "1.00")), g) // builds the filters
      store.addToFilter("customer_merchant_summary", Seq("c1", "m1"))
      store.applyDeltas(m, cm(("c1", 2L, "3.50"), ("c2", 1L, "1.25")), g)
      assert(store.duplicateRetries == 0)
      assert(store.custMerchantSummary(spark)
        .select(col("customer_id"), col("transaction_count"), col("total_amount_sum").cast("string"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ==
        Set(("c0", 1L, "1.00"), ("c1", 2L, "3.50"), ("c2", 1L, "1.25")))
    } finally store.close()
  }

  test("a key filter past its capacity is rebuilt from the table: every key adds, no retry") {
    import graft.streaming.MicroBatchRunner.{custMerchantStateSchema, genderStateSchema, merchantStateSchema}
    import scala.jdk.CollectionConverters._
    def local(rows: Seq[Row], schema: StructType) = spark.createDataFrame(rows.asJava, schema)
    // more keys than the smallest filter holds
    val cm = local((0 until 20000).map(i =>
      Row(s"c$i", "m1", 1L, new java.math.BigDecimal("1.00"))), custMerchantStateSchema)
    val m = local(Nil, merchantStateSchema)
    val g = local(Nil, genderStateSchema)
    val store = freshStore("capacity")
    try {
      for (_ <- 0 until 2) store.applyDeltas(m, cm, g)
      assert(store.duplicateRetries == 0)
      assert(store.custMerchantSummary(spark).filter(col("transaction_count") =!= 2L ||
        col("total_amount_sum") =!= 2).count() == 0)
      assert(store.custMerchantSummary(spark).count() == 20000)
    } finally store.close()
  }

  /** Every statement text in the statement cache of the database at `url`. */
  private def statementCache(url: String): Set[String] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSet
    } finally c.close()
  }

  test("golden strings: a postgresql URL and a Derby URL run the same UPDATE, INSERT and fence text") {
    val Seq(ms, cms, _) = JdbcUpsertStore.tables
    val cmsInsert = JdbcUpsertStore.insertSql(cms.target, cms.columns)
    assert(ms.updateSql ==
      "UPDATE merchant_summary SET total_transactions = total_transactions + ?, " +
        "last_updated = ? WHERE merchant_id = ?")
    assert(cms.updateSql ==
      "UPDATE customer_merchant_summary SET transaction_count = transaction_count + ?, " +
        "total_amount_sum = total_amount_sum + ?, last_updated = ? " +
        "WHERE customer_id = ? AND merchant_id = ?")
    assert(cmsInsert == "INSERT INTO customer_merchant_summary (customer_id, merchant_id, " +
      "transaction_count, total_amount_sum, last_updated) VALUES (?, ?, ?, ?, ?)")
    assert(JdbcUpsertStore.fenceSql("merchant_summary", 7L) ==
      "INSERT INTO applied_epochs (table_name, epoch_id)\n" +
        "SELECT 'merchant_summary', 7 FROM (VALUES (1)) AS one(x)\n" +
        "WHERE NOT EXISTS (SELECT 1 FROM applied_epochs\n" +
        "  WHERE table_name = 'merchant_summary' AND epoch_id = 7)")

    // a jdbc:postgresql: store (served by Derby through PgUrlOnDerby) and
    // a Derby store take one delta as epochs 0, 1 and 1 again (inserts,
    // keyed updates, a fenced-off replay); each database's statement
    // cache then holds exactly the text its store sent
    java.sql.DriverManager.registerDriver(PgUrlOnDerby)
    try {
      val (m, cm, g) = deltas(txWithBucket(3).filter(col("b") === 0))
      val tag = System.nanoTime()
      val Seq(pg, derby) = Seq(s"jdbc:postgresql:golden-pg-$tag",
          s"jdbc:derby:memory:golden-derby-$tag").map { url =>
        val store = new JdbcUpsertStore(s"$url;create=true")
        store.init()
        try {
          Seq(0L, 1L, 1L).foreach(e => store.applyDeltas(m, cm, g, Some(e)))
          statementCache(url)
        } finally store.close()
      }
      assert(pg == derby)
      assert(Set(ms.updateSql, cms.updateSql, cmsInsert,
        JdbcUpsertStore.fenceSql(cms.target, 1L)).subsetOf(pg))
    } finally java.sql.DriverManager.deregisterDriver(PgUrlOnDerby)
  }

  test("fence + merge are one transaction: a failed merge leaves the epoch replayable") {
    val dir = derbyDir("atomic")
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

/** Serves `jdbc:postgresql:<name>…` URLs from the in-memory Derby
  * database `<name>`, so a store built for a PostgreSQL URL runs in a
  * test without a PostgreSQL JDBC driver. */
private object PgUrlOnDerby extends java.sql.Driver {
  private val prefix = "jdbc:postgresql:"
  override def acceptsURL(url: String): Boolean = url.startsWith(prefix)
  override def connect(url: String, info: java.util.Properties): java.sql.Connection =
    if (!acceptsURL(url)) null
    else java.sql.DriverManager.getConnection("jdbc:derby:memory:" + url.stripPrefix(prefix), info)
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant: Boolean = false
  override def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
}
