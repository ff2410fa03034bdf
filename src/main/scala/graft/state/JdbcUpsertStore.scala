package graft.state

import java.sql.{Connection, DriverManager}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC-backed state store mirroring the reference's PostgreSQL channel
  * ("Mechanism Y.py":136-218): per batch, (K2) write the aggregate delta
  * to a temp table with df.write.jdbc, (K3) merge it into the target with
  * one set-based additive upsert statement on the driver's plain JDBC
  * connection, (S4) read state back with spark.read.jdbc.
  *
  * Runs on embedded Derby (ships with Spark — no extra dependency) with
  * ANSI `MERGE INTO`; a `jdbc:postgresql:` URL selects the reference's
  * own `INSERT … ON CONFLICT DO UPDATE` statement shape instead
  * ([[UpsertDialect]] — PG14 has no MERGE). DDL shapes per
  * sql/postgres_tables.sql: VARCHAR keys, BIGINT counts, DECIMAL(18,2)
  * sums, TIMESTAMP last_updated.
  *
  * Scale notes vs the reference (SURVEY.md §4 anti-patterns, fixed here):
  *   - reads accept a key predicate (pruned read) instead of full-table;
  *   - epoch fencing gives idempotent replay (opt-in; default preserves
  *     the reference's at-least-once semantics for parity).
  */
class JdbcUpsertStore(url: String, driverClass: String =
    "org.apache.derby.jdbc.EmbeddedDriver",
    semiJoinKeyThreshold: Int = 1000) extends StateStore {

  Class.forName(driverClass)

  private val dialect = UpsertDialect.forUrl(url)

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", driverClass)
    p
  }

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  /** Case-fold-tolerant existence check: Derby folds unquoted
    * identifiers to UPPERCASE in its catalog, PostgreSQL to lowercase —
    * probing only the uppercase form made [[init]] see "missing" tables
    * on the reference's own PG stack and fail on the re-CREATE. */
  private def tableExists(c: Connection, name: String): Boolean = {
    val md = c.getMetaData
    // getTables takes a LIKE pattern: a literal `_` matches any single
    // char, so "graft_state" would false-positive on "graftXstate" and
    // skip the CREATE. Escape with the driver's escape string.
    val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
    def lit(n: String): String = esc match {
      case Some(e) => n.flatMap {
        case c if c == '_' || c == '%' => e + c
        case c => c.toString
      }
      case None => n
    }
    def probe(n: String): Boolean = {
      val rs = md.getTables(null, null, lit(n), null)
      try rs.next() finally rs.close()
    }
    probe(name.toUpperCase) || probe(name.toLowerCase)
  }

  /** DDL per sql/postgres_tables.sql:3-25 (types mapped to Derby). */
  def init(): Unit = withConn { c =>
    if (!tableExists(c, "MERCHANT_SUMMARY")) {
      exec(c, """CREATE TABLE merchant_summary (
        merchant_id VARCHAR(255) NOT NULL PRIMARY KEY,
        total_transactions BIGINT NOT NULL,
        last_updated TIMESTAMP)""")
      exec(c, """CREATE TABLE customer_merchant_summary (
        customer_id VARCHAR(255) NOT NULL,
        merchant_id VARCHAR(255) NOT NULL,
        transaction_count BIGINT NOT NULL,
        total_amount_sum DECIMAL(18,2) NOT NULL,
        last_updated TIMESTAMP,
        PRIMARY KEY (customer_id, merchant_id))""")
      exec(c, """CREATE TABLE merchant_gender_summary (
        merchant_id VARCHAR(255) NOT NULL PRIMARY KEY,
        male_transaction_count BIGINT NOT NULL,
        female_transaction_count BIGINT NOT NULL,
        last_updated TIMESTAMP)""")
      exec(c, """CREATE TABLE applied_epochs (
        table_name VARCHAR(64) NOT NULL,
        epoch_id BIGINT NOT NULL,
        PRIMARY KEY (table_name, epoch_id))""")
    }
  }

  /** Idempotence fence: record (table, epoch) via the dialect's
    * conditional insert; false if already applied. Runs on the SAME
    * connection/transaction as the merge — see [[upsert]]. */
  private def fence(c: Connection, table: String, epoch: Option[Long]): Boolean =
    epoch match {
      case None => true
      case Some(e) =>
        val st = c.createStatement()
        try st.executeUpdate(dialect.fenceSql(table, e)) == 1
        finally st.close()
    }

  /** The merge statement this store will execute — dialect-selected from
    * the URL (Derby/ANSI → MERGE INTO; jdbc:postgresql: → the reference's
    * INSERT … ON CONFLICT DO UPDATE). Exposed for golden-string tests
    * since Postgres itself isn't available in CI. */
  private[graft] def upsertSql(target: String, temp: String,
      keys: Seq[String], adds: Seq[String]): String =
    dialect.mergeSql(target, temp, keys, adds)

  private[graft] def fenceStatement(table: String, epoch: Long): String =
    dialect.fenceSql(table, epoch)

  /** Coerce a delta to the target tables' declared column types
    * (postgres_tables.sql: DECIMAL(18,2) sums) BEFORE the temp-table
    * write. Without this, a delta that arrives as a wider decimal —
    * e.g. sum(sum(DECIMAL(18,2))) = DECIMAL(38,2) from a two-level
    * rollup — hits Spark's DerbyDialect cap, which maps precision>31 to
    * DECIMAL(31, max(scale-(precision-31), 0)) = DECIMAL(31,0) and
    * silently TRUNCATES the cents in the temp table (caught by
    * NativeStateSpec parity against the in-operator state backend). */
  private def coerce(delta: DataFrame): DataFrame =
    delta.schema.fields.foldLeft(delta) { (df, f) =>
      f.dataType match {
        case d: org.apache.spark.sql.types.DecimalType if d.precision > 18 =>
          // Narrow the precision but PRESERVE the source scale: a
          // hardcoded (18,2) would silently shave sub-cent digits off any
          // future finer-scaled delta column (and under non-ANSI casting
          // an overflow becomes NULL, not an error). Today's sum columns
          // are scale 2, so this is (18,2) in practice.
          df.withColumn(f.name, col(f.name).cast(
            org.apache.spark.sql.types.DecimalType(18, math.min(d.scale, 18))))
        case _ => df
      }
    }

  private def upsert(delta: DataFrame, target: String, temp: String,
      keys: Seq[String], adds: Seq[String], epoch: Option[Long]): Unit = {
    if (delta.isEmpty) return
    // K2: batch delta → temp table over JDBC. The runner's deltas are
    // driver-local frames (rolled up from its one collected batch
    // aggregate), so the emptiness probe above runs no Spark job and the
    // write is one LocalTableScan job, ≤ defaultParallelism tasks; any
    // other frame writes from its executors the same way.
    // Key columns must be VARCHAR, not Derby's default CLOB mapping for
    // StringType — CLOB can't join against the VARCHAR PKs in MERGE.
    // batchsize 10k (default 1000) amortizes the per-statement round
    // trip; truncate-on-overwrite reuses the table instead of paying a
    // DROP/CREATE DDL round per micro-batch.
    coerce(delta).withColumn("last_updated", current_timestamp())
      .write.mode("overwrite")
      .option("truncate", "true")
      .option("batchsize", "10000")
      .option("createTableColumnTypes",
        keys.map(k => s"$k VARCHAR(255)").mkString(", "))
      .jdbc(url, temp, props)
    // K3: fence + one set-based additive merge, committed ATOMICALLY.
    // Two autocommitted statements would lose the delta forever if the
    // process died between them (epoch fenced out, merge never applied);
    // one transaction makes a crash replayable.
    withConn { c =>
      c.setAutoCommit(false)
      try {
        if (fence(c, target, epoch))
          exec(c, dialect.mergeSql(target, temp, keys, adds))
        c.commit()
      } catch {
        case e: Throwable =>
          try c.rollback() catch { case _: java.sql.SQLException => () }
          throw e
      }
    }
  }

  /** The three upserts touch disjoint (target, temp) table pairs on
    * separate connections, so they run CONCURRENTLY — the serial form
    * made the state round-trip the pipeline's throughput ceiling (three
    * temp-writes + merges back-to-back per micro-batch). Failure
    * semantics stay clean because the fence is per (table, epoch): if
    * one table's merge fails mid-batch, the others commit, and a replay
    * of the same epoch applies only the failed table (the committed ones
    * fence themselves out). */
  override def applyDeltas(merchantDelta: DataFrame,
      custMerchantDelta: DataFrame, genderDelta: DataFrame,
      epochId: Option[Long] = None): Unit =
    JdbcUpsertStore.concurrently(Seq(
      () => upsert(merchantDelta, "merchant_summary", "temp_mts_updates",
        Seq("merchant_id"), Seq("total_transactions"), epochId),
      () => upsert(custMerchantDelta, "customer_merchant_summary", "temp_cms_updates",
        Seq("customer_id", "merchant_id"),
        Seq("transaction_count", "total_amount_sum"), epochId),
      () => upsert(genderDelta, "merchant_gender_summary", "temp_mgs_updates",
        Seq("merchant_id"),
        Seq("male_transaction_count", "female_transaction_count"), epochId)))

  private def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(url, table, props)

  override def merchantSummary(spark: SparkSession): DataFrame =
    read(spark, "merchant_summary").drop("last_updated")
  override def custMerchantSummary(spark: SparkSession): DataFrame =
    read(spark, "customer_merchant_summary").drop("last_updated")
  override def genderSummary(spark: SparkSession): DataFrame =
    read(spark, "merchant_gender_summary").drop("last_updated")

  /** Pruned state read — the key predicate is pushed into the JDBC scan
    * (shows up as a WHERE on the remote side), so per-batch state IO is
    * O(batch keys), not O(state). Two forms by key count:
    *
    *   - ≤ [[semiJoinKeyThreshold]] keys: IN-lists split into ~250-key
    *     groups, one scan partition each — a 1k-merchant batch reads
    *     over 4 parallel connections without building a giant statement.
    *   - wider batches: the key set is written to a keys temp table
    *     (same executor-write channel as the deltas) and the remote
    *     query SEMI-JOINS it — statement size stays O(1) no matter how
    *     many keys, and the DB drives the lookup from its PK index
    *     instead of parsing a megabyte IN-list. */
  private def prunedRead(spark: SparkSession, table: String,
      keyCol: String, ids: Seq[String]): DataFrame = {
    val distinctIds = ids.distinct
    if (distinctIds.isEmpty)
      spark.read.jdbc(url, table, Array("1=0"), props).drop("last_updated")
    else if (distinctIds.size <= semiJoinKeyThreshold) {
      val preds = distinctIds.grouped(250).map { g =>
        val in = g.map(id => s"'${id.replace("'", "''")}'").mkString(",")
        s"$keyCol IN ($in)"
      }.toArray
      spark.read.jdbc(url, table, preds, props).drop("last_updated")
    } else {
      // a UNIQUE keys table per call: the returned frame scans its keys
      // table LAZILY, so a shared table would silently serve the wrong
      // key set to any unmaterialized frame held across a later pruned
      // read (and a lazy recompute — AQE retry, cache eviction — would
      // too). Each frame owns its table; old tables are retired once
      // enough newer calls have passed that their frames are consumed
      // (the runner materializes every pruned read within its batch),
      // and a too-early drop fails LOUDLY (table not found), never with
      // wrong rows.
      import spark.implicits._
      val keysTable = s"temp_read_keys_${keysTableSeq.incrementAndGet()}"
      distinctIds.toDF("k")
        .write.mode("overwrite")
        .option("createTableColumnTypes", "k VARCHAR(255)")
        .jdbc(url, keysTable, props)
      keysTables.addFirst(keysTable)
      while (keysTables.size() > keysTableRetention)
        dropKeysTable(keysTables.pollLast())
      val q = s"(SELECT t.* FROM $table t " +
        s"INNER JOIN $keysTable r ON t.$keyCol = r.${q2("k")}) sq"
      spark.read.jdbc(url, q, props).drop("last_updated")
    }
  }

  // per-call keys tables (see prunedRead): newest-first registry, retained
  // long enough for the three per-batch reads plus one batch of slack
  private val keysTableSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val keysTables = new java.util.concurrent.ConcurrentLinkedDeque[String]()
  private val keysTableRetention = 6

  private def dropKeysTable(name: String): Unit =
    if (name != null) withConn { c =>
      try exec(c, s"DROP TABLE $name")
      catch { case _: java.sql.SQLException => () } // already gone
    }

  // Spark's JDBC writer creates temp-table columns with quoted
  // (case-preserved) identifiers — same quoting contract as the merge
  private def q2(c: String): String = "\"" + c + "\""

  override def merchantSummaryFor(spark: SparkSession,
      merchantIds: Seq[String]): DataFrame =
    prunedRead(spark, "merchant_summary", "merchant_id", merchantIds)

  override def custMerchantSummaryFor(spark: SparkSession,
      merchantIds: Seq[String]): DataFrame =
    prunedRead(spark, "customer_merchant_summary", "merchant_id", merchantIds)

  override def genderSummaryFor(spark: SparkSession,
      merchantIds: Seq[String]): DataFrame =
    prunedRead(spark, "merchant_gender_summary", "merchant_id", merchantIds)

  override def close(): Unit = {
    while (!keysTables.isEmpty) dropKeysTable(keysTables.pollLast())
    try DriverManager.getConnection(s"$url;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown via exception
  }
}

object JdbcUpsertStore {

  /** Runs each task on a daemon thread started by the caller, waits for
    * ALL of them — no upsert is left racing a caller that believes the
    * batch is finished — then rethrows the first failure in task order.
    * Threads started per call inherit the caller's Spark local
    * properties (job group, description, `streaming.sql.batchId`); a
    * shared pool's threads keep those of whichever caller first created
    * them, so cancelling a later query's job group would miss its
    * upserts and listeners would file them under the wrong batch. */
  private[state] def concurrently(tasks: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        try task() catch { case e: Throwable => failures(i) = e },
        "graft-state-upsert")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
  }

  /** Embedded Derby store under the given directory. */
  def derby(dir: String): JdbcUpsertStore = {
    val s = new JdbcUpsertStore(s"jdbc:derby:$dir;create=true")
    s.init()
    s
  }

  /** In-memory Derby (no fsync per merge) — the right mode when state
    * durability is delegated to checkpoint + replay rather than the
    * store itself. */
  def derbyMemory(name: String): JdbcUpsertStore = {
    val s = new JdbcUpsertStore(s"jdbc:derby:memory:$name;create=true")
    s.init()
    s
  }
}
