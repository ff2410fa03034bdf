package graft.state

import java.sql.{Connection, DriverManager}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JDBC-backed state store mirroring the reference's PostgreSQL channel
  * ("Mechanism Y.py":136-218): per batch, (K2) batch-insert the
  * aggregate delta into a temp table and (K3) merge it into the target
  * with one set-based additive upsert statement — both on the driver's
  * own JDBC connection, all three tables in one transaction, no Spark
  * job ([[applyDeltas]]) — and (S4) read state back with
  * spark.read.jdbc. The store makes no Spark JDBC writes.
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

  private def exec(c: Connection, sql: String): Int = {
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

  /** DDL per sql/postgres_tables.sql:3-25 (types mapped to Derby), plus
    * each missing temp table, with its target's column types and the
    * quoted lowercase column names [[UpsertDialect]]'s merge expects. */
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
    for (t <- JdbcUpsertStore.tables if !tableExists(c, t.temp)) {
      val cols = t.keys.map(k => s"${q2(k)} VARCHAR(255)") ++
        t.adds.map { case (a, ddl) => s"${q2(a)} $ddl" } :+ s"${q2("last_updated")} TIMESTAMP"
      exec(c, s"CREATE TABLE ${t.temp} (${cols.mkString(", ")})")
    }
  }

  /** Idempotence fence: record (table, epoch) via the dialect's
    * conditional insert; false if already applied. Runs in the SAME
    * transaction as the merge — see [[applyDeltas]]. */
  private def fence(c: Connection, table: String, epoch: Option[Long]): Boolean =
    epoch.forall(e => exec(c, dialect.fenceSql(table, e)) == 1)

  /** The merge statement this store will execute — dialect-selected from
    * the URL (Derby/ANSI → MERGE INTO; jdbc:postgresql: → the reference's
    * INSERT … ON CONFLICT DO UPDATE). Exposed for golden-string tests
    * since Postgres itself isn't available in CI. */
  private[graft] def upsertSql(target: String, temp: String,
      keys: Seq[String], adds: Seq[String]): String =
    dialect.mergeSql(target, temp, keys, adds)

  private[graft] def fenceStatement(table: String, epoch: Long): String =
    dialect.fenceSql(table, epoch)

  /** One connection, one transaction: commits if `f` returns, rolls back
    * and rethrows if it throws. */
  private def inTransaction(f: Connection => Unit): Unit = withConn { c =>
    c.setAutoCommit(false)
    try { f(c); c.commit() }
    catch {
      case e: Throwable =>
        try c.rollback() catch { case _: java.sql.SQLException => () }
        throw e
    }
  }

  /** Batched INSERT of `rows` (values in `cols` order, quoted column
    * names) into `table`, one round trip per 10k rows. A null binds as a
    * VARCHAR null: only key values can be null here. */
  private def insertRows(c: Connection, table: String, cols: Seq[String],
      rows: Seq[Seq[Any]]): Unit = {
    val ps = c.prepareStatement(s"INSERT INTO $table (${cols.map(q2).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})")
    try rows.grouped(10000).foreach { group =>
      group.foreach { values =>
        values.zipWithIndex.foreach {
          case (null, i) => ps.setNull(i + 1, java.sql.Types.VARCHAR)
          case (v, i) => ps.setObject(i + 1, v)
        }
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  /** One batch's three upserts on the caller's thread, over one
    * connection in ONE transaction. Each delta is collected first (the
    * runner's driver-local frames collect without a Spark job); then, per
    * non-empty delta: the epoch fence, (K2) clear the temp table and
    * batch-insert the rows with one `last_updated` per batch, (K3) the
    * additive merge. A null additive value binds as 0, the reference's
    * `COALESCE(…, 0)` ("Mechanism Y.py":178), so a pair whose amounts are
    * all null cannot fail the NOT NULL sum. One commit makes the batch
    * all-or-nothing across the three tables, so a replayed epoch applies
    * all of it. */
  override def applyDeltas(merchantDelta: DataFrame,
      custMerchantDelta: DataFrame, genderDelta: DataFrame,
      epochId: Option[Long] = None): Unit = {
    val staged = JdbcUpsertStore.tables.zip(Seq(merchantDelta, custMerchantDelta, genderDelta))
      .map { case (t, delta) =>
        (t, delta.schema, graft.CallSite.named(delta.sparkSession,
          s"JdbcUpsertStore.applyDeltas: ${t.target} delta")(delta.collect()))
      }
      .filter(_._3.nonEmpty)
    if (staged.isEmpty) return
    val lastUpdated = new java.sql.Timestamp(System.currentTimeMillis())
    inTransaction { c =>
      for ((t, schema, rows) <- staged if fence(c, t.target, epochId)) {
        exec(c, s"DELETE FROM ${t.temp}")
        val keyIdx = t.keys.map(schema.fieldIndex)
        val addIdx = t.adds.map(a => schema.fieldIndex(a._1))
        insertRows(c, t.temp, t.columns, rows.toSeq.map { r =>
          keyIdx.map(r.get) ++ addIdx.map(i => if (r.isNullAt(i)) 0 else r.get(i)) :+
            lastUpdated
        })
        exec(c, dialect.mergeSql(t.target, t.temp, t.keys, t.adds.map(_._1)))
      }
    }
  }

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
    *   - wider batches: the key set is batch-inserted into a keys temp
    *     table (same driver-side insert as the deltas) and the remote
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
      val keysTable = s"temp_read_keys_${keysTableSeq.incrementAndGet()}"
      dropKeysTable(keysTable) // left behind by an earlier store that was never closed
      inTransaction { c =>
        exec(c, s"CREATE TABLE $keysTable (${q2("k")} VARCHAR(255))")
        insertRows(c, keysTable, Seq("k"), distinctIds.map(Seq(_)))
      }
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

  // temp-table columns are created and inserted with quoted
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

  /** A state table's upsert shape: key columns, additive columns with
    * their DDL types (sql/postgres_tables.sql), and the temp table its
    * deltas are staged in. */
  private final case class UpsertTable(target: String, temp: String,
      keys: Seq[String], adds: Seq[(String, String)]) {
    def columns: Seq[String] = keys ++ adds.map(_._1) :+ "last_updated"
  }

  /** The three state tables, in [[StateStore.applyDeltas]] argument order. */
  private val tables: Seq[UpsertTable] = Seq(
    UpsertTable("merchant_summary", "temp_mts_updates", Seq("merchant_id"),
      Seq("total_transactions" -> "BIGINT")),
    UpsertTable("customer_merchant_summary", "temp_cms_updates",
      Seq("customer_id", "merchant_id"),
      Seq("transaction_count" -> "BIGINT", "total_amount_sum" -> "DECIMAL(18,2)")),
    UpsertTable("merchant_gender_summary", "temp_mgs_updates", Seq("merchant_id"),
      Seq("male_transaction_count" -> "BIGINT", "female_transaction_count" -> "BIGINT")))

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
