package graft.state

import java.sql.{Connection, DriverManager, SQLException, Timestamp}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** JDBC-backed state store mirroring the reference's PostgreSQL channel
  * ("Mechanism Y.py":136-218): per batch, (K2/K3) upsert each aggregate
  * delta additively on the driver's own JDBC connection, all three
  * tables in one transaction, no Spark job ([[applyDeltas]]), and (S4)
  * read state back with spark.read.jdbc. The store makes no Spark JDBC
  * writes.
  *
  * One statement set for every JDBC URL, in plain ANSI SQL: a Bloom
  * filter of the keys each table has committed splits a delta into a
  * batched keyed `UPDATE` and a batched `INSERT` — no temp table and no
  * vendor upsert statement. The same text runs on embedded Derby
  * (ships with Spark — no extra dependency; the test and bench store)
  * and on PostgreSQL, the reference's database (PgUpsertLiveSpec runs it
  * there). DDL shapes per sql/postgres_tables.sql: VARCHAR keys, BIGINT
  * counts, DECIMAL(18,2) sums, TIMESTAMP last_updated.
  *
  * Scale notes vs the reference (SURVEY.md §4 anti-patterns, fixed here):
  *   - reads accept a key predicate (pruned read) instead of full-table;
  *   - epoch fencing gives idempotent replay (opt-in; default preserves
  *     the reference's at-least-once semantics for parity).
  */
class JdbcUpsertStore(url: String, driverClass: String =
    "org.apache.derby.jdbc.EmbeddedDriver") extends StateStore {
  import JdbcUpsertStore.{UpsertTable, fenceSql, insertSql, probeSql}

  Class.forName(driverClass)

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

  /** Whether `name` exists ([[JdbcUpsertStore.probeSql]]). */
  private def tableExists(c: Connection, name: String): Boolean = {
    val st = c.createStatement()
    try { st.executeQuery(probeSql(name)).close(); true }
    catch { case _: SQLException => false } finally st.close()
  }

  /** The state tables and the fence table ([[JdbcUpsertStore.ddl]]),
    * unless they exist. */
  def init(): Unit = withConn { c =>
    if (!tableExists(c, "merchant_summary")) JdbcUpsertStore.ddl.foreach(exec(c, _))
  }

  /** Idempotence fence: record (table, epoch) via [[JdbcUpsertStore.fenceSql]];
    * false if already applied. Runs in the SAME transaction as the
    * upsert — see [[applyDeltas]]. */
  private def fence(c: Connection, table: String, epoch: Option[Long]): Boolean =
    epoch.forall(e => exec(c, fenceSql(table, e)) == 1)

  /** One connection, one transaction: returns `f`'s result once the
    * commit returns; rolls back and rethrows if anything throws. */
  private def inTransaction[A](f: Connection => A): A = withConn { c =>
    c.setAutoCommit(false)
    try { val a = f(c); c.commit(); a }
    catch {
      case e: Throwable =>
        try c.rollback() catch { case _: SQLException => () }
        throw e
    }
  }

  /** `sql` executed once per row of `rows` (values in parameter order),
    * batched one round trip per 10k rows; the update count of each row.
    * A null binds as a VARCHAR null: only key values can be null here. */
  private def batched(c: Connection, sql: String, rows: Seq[Seq[Any]]): Seq[Int] = {
    val ps = c.prepareStatement(sql)
    try rows.grouped(10000).flatMap { group =>
      group.foreach { values =>
        values.zipWithIndex.foreach {
          case (null, i) => ps.setNull(i + 1, java.sql.Types.VARCHAR)
          case (v, i) => ps.setObject(i + 1, v)
        }
        ps.addBatch()
      }
      ps.executeBatch()
    }.toSeq finally ps.close()
  }

  /** Batched INSERT of `rows` (values in `cols` order) into `table`. */
  private def insertRows(c: Connection, table: String, cols: Seq[String],
      rows: Seq[Seq[Any]]): Unit =
    batched(c, insertSql(table, cols), rows)

  /** Per target table: a Bloom filter of the keys this store has seen
    * committed, sized for `capacity` keys, and how many it holds. */
  private final class KeyFilter(val bloom: BloomFilter, val capacity: Long, var count: Long)
  private val filters = scala.collection.mutable.Map.empty[String, KeyFilter]
  @volatile private[graft] var duplicateRetries = 0
  private def filterKey(key: Seq[Any]): String = key.mkString("\u0000") // a clash is a false positive

  /** A fresh filter of every key in `t`, from one key-only scan, sized
    * at twice the keys found (so a rebuild at least doubles it). */
  private def scanKeys(c: Connection, t: UpsertTable): KeyFilter = {
    val st = c.createStatement()
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val rs = st.executeQuery(s"SELECT ${t.keys.mkString(", ")} FROM ${t.target}")
      while (rs.next()) keys += filterKey(t.keys.indices.map(i => rs.getString(i + 1)))
    } finally st.close()
    val capacity = math.max(JdbcUpsertStore.MinFilterKeys, 2L * keys.size)
    val bloom = BloomFilter.create(capacity, JdbcUpsertStore.FilterFpp)
    keys.foreach(bloom.putString)
    new KeyFilter(bloom, capacity, keys.size)
  }

  /** Test hook: mark `key` as committed in `target`'s built filter. */
  private[graft] def addToFilter(target: String, key: Seq[String]): Unit =
    filters(target).bloom.putString(filterKey(key))

  /** One delta (rows of keys ++ adds) into `t`: keys the filter may know
    * take the batched keyed UPDATE; the rest, and any UPDATE that hit no
    * row (a false positive), take one batched INSERT. Returns the
    * inserted keys. */
  private def upsertKeyed(c: Connection, t: UpsertTable, rows: Seq[Seq[Any]],
      at: Timestamp): Seq[String] = {
    val nk = t.keys.size
    val filter = filters.getOrElseUpdate(t.target, scanKeys(c, t))
    val (known, fresh) = rows.partition(r => filter.bloom.mightContainString(filterKey(r.take(nk))))
    val counts = if (known.isEmpty) Nil else batched(c, t.updateSql,
      known.map(r => (r.drop(nk) :+ at) ++ r.take(nk)))
    val inserts = fresh ++ known.zip(counts).collect { case (r, 0) => r }
    if (inserts.nonEmpty) insertRows(c, t.target, t.columns, inserts.map(_ :+ at))
    inserts.map(r => filterKey(r.take(nk)))
  }

  /** One batch's three upserts on the caller's thread, over one
    * connection in ONE transaction. Each delta is collected first (the
    * runner's driver-local frames collect without a Spark job), a null
    * additive value as 0, the reference's `COALESCE(…, 0)` ("Mechanism
    * Y.py":178); then, per non-empty delta, the epoch fence and the
    * upsert, with one `last_updated` per batch. One commit makes the
    * batch all-or-nothing, so a replayed epoch applies all of it.
    *
    * The upsert is [[upsertKeyed]], whose inserted keys join the filters
    * once the commit returns. A filter past its capacity is dropped, to
    * be rebuilt on next use. A duplicate key (SQLState 23505: another
    * writer committed a key the filter lacks, or, on PostgreSQL, the
    * same epoch's fence row) rolls back, drops the filters and retries
    * once. */
  override def applyDeltas(merchantDelta: DataFrame,
      custMerchantDelta: DataFrame, genderDelta: DataFrame,
      epochId: Option[Long] = None): Unit = {
    val staged = JdbcUpsertStore.tables.zip(Seq(merchantDelta, custMerchantDelta, genderDelta))
      .map { case (t, delta) =>
        val keyIdx = t.keys.map(delta.schema.fieldIndex)
        val addIdx = t.adds.map(delta.schema.fieldIndex)
        t -> graft.CallSite.named(delta.sparkSession,
          s"JdbcUpsertStore.applyDeltas: ${t.target} delta")(delta.collect()).toSeq.map { r =>
          keyIdx.map(r.get) ++ addIdx.map(i => if (r.isNullAt(i)) 0 else r.get(i))
        }
      }
      .filter(_._2.nonEmpty)
    if (staged.isEmpty) return
    val lastUpdated = new Timestamp(System.currentTimeMillis())
    filters.synchronized {
      def attempt() = inTransaction { c =>
        for ((t, rows) <- staged if fence(c, t.target, epochId))
          yield t.target -> upsertKeyed(c, t, rows, lastUpdated)
      }
      val inserted = try attempt() catch {
        case e: SQLException if e.getSQLState == "23505" =>
          filters.clear(); duplicateRetries += 1; attempt()
      }
      for ((target, keys) <- inserted; f <- filters.get(target))
        if (f.count + keys.size > f.capacity) filters.remove(target)
        else { keys.foreach(f.bloom.putString); f.count += keys.size }
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
    *   - ≤ [[JdbcUpsertStore.SemiJoinKeys]] keys: IN-lists split into ~250-key
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
    else if (distinctIds.size <= JdbcUpsertStore.SemiJoinKeys) {
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
        exec(c, s"CREATE TABLE $keysTable (k VARCHAR(255))")
        insertRows(c, keysTable, Seq("k"), distinctIds.map(Seq(_)))
      }
      keysTables.addFirst(keysTable)
      while (keysTables.size() > keysTableRetention)
        dropKeysTable(keysTables.pollLast())
      val q = s"(SELECT t.* FROM $table t " +
        s"INNER JOIN $keysTable r ON t.$keyCol = r.k) sq"
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
      catch { case _: SQLException => () } // already gone
    }

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
    catch { case _: SQLException => () } // Derby signals shutdown via exception
  }
}

object JdbcUpsertStore {

  /** A state table's upsert shape: key columns and additive columns. A
    * delta's new keys take [[insertSql]] over [[columns]]. */
  private[graft] final case class UpsertTable(target: String, keys: Seq[String],
      adds: Seq[String]) {
    def columns: Seq[String] = keys ++ adds :+ "last_updated"

    /** The additive update of one existing key, bound per row as
      * (adds…, last_updated, keys…); its update count is 0 when the key
      * is absent. Each `?` takes the target column's type, so a delta
      * wider than DECIMAL(18,2) keeps its cents. */
    val updateSql: String = {
      val sets = (adds.map(a => s"$a = $a + ?") :+ "last_updated = ?").mkString(", ")
      s"UPDATE $target SET $sets WHERE ${keys.map(k => s"$k = ?").mkString(" AND ")}"
    }
  }

  /** The three state tables, in [[StateStore.applyDeltas]] argument order. */
  private[graft] val tables: Seq[UpsertTable] = Seq(
    UpsertTable("merchant_summary", Seq("merchant_id"), Seq("total_transactions")),
    UpsertTable("customer_merchant_summary", Seq("customer_id", "merchant_id"),
      Seq("transaction_count", "total_amount_sum")),
    UpsertTable("merchant_gender_summary", Seq("merchant_id"),
      Seq("male_transaction_count", "female_transaction_count")))

  /** DDL per sql/postgres_tables.sql:3-25, plus the epoch fence table. */
  private[graft] val ddl: Seq[String] = Seq(
    """CREATE TABLE merchant_summary (
        merchant_id VARCHAR(255) NOT NULL PRIMARY KEY,
        total_transactions BIGINT NOT NULL,
        last_updated TIMESTAMP)""",
    """CREATE TABLE customer_merchant_summary (
        customer_id VARCHAR(255) NOT NULL,
        merchant_id VARCHAR(255) NOT NULL,
        transaction_count BIGINT NOT NULL,
        total_amount_sum DECIMAL(18,2) NOT NULL,
        last_updated TIMESTAMP,
        PRIMARY KEY (customer_id, merchant_id))""",
    """CREATE TABLE merchant_gender_summary (
        merchant_id VARCHAR(255) NOT NULL PRIMARY KEY,
        male_transaction_count BIGINT NOT NULL,
        female_transaction_count BIGINT NOT NULL,
        last_updated TIMESTAMP)""",
    """CREATE TABLE applied_epochs (
        table_name VARCHAR(64) NOT NULL,
        epoch_id BIGINT NOT NULL,
        PRIMARY KEY (table_name, epoch_id))""")

  /** The insert of one row, bound in `cols` order. */
  private[graft] def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** Whether `table` exists: a probe that reads no row, so the name folds
    * exactly as the DDL's unquoted name did (Derby: uppercase,
    * PostgreSQL: lowercase). */
  private[graft] def probeSql(table: String): String = s"SELECT 1 FROM $table WHERE 1 = 0"

  /** Idempotence fence for (table, epoch): its update count is 1 if the
    * epoch was newly recorded, 0 if already applied. A conditional insert
    * over a one-row derived table, not insert-then-catch, so it runs
    * inside the upsert's transaction without aborting it (PostgreSQL
    * aborts the whole transaction on any statement error). Two writers
    * racing on one epoch on PostgreSQL both pass the NOT EXISTS; the
    * primary key makes the later one fail with 23505, and it rolls back
    * and retries once ([[JdbcUpsertStore.applyDeltas]]), when its fence
    * sees the committed epoch and skips. */
  private[graft] def fenceSql(table: String, epoch: Long): String =
    s"""INSERT INTO applied_epochs (table_name, epoch_id)
       |SELECT '$table', $epoch FROM (VALUES (1)) AS one(x)
       |WHERE NOT EXISTS (SELECT 1 FROM applied_epochs
       |  WHERE table_name = '$table' AND epoch_id = $epoch)""".stripMargin

  /** Pruned reads of more keys than this semi-join a keys table instead
    * of listing them in IN-lists ([[JdbcUpsertStore.prunedRead]]). */
  private val SemiJoinKeys = 1000

  /** Key filters: the false-positive rate (a false positive costs one
    * keyed UPDATE that hits no row) and the smallest capacity. */
  private val FilterFpp = 0.01
  private val MinFilterKeys = 16384L

  /** In-memory Derby keeps its transaction log on the heap until a
    * checkpoint covers it; checkpointing every 256 KiB of log bounds
    * that tail (Derby's default is 10 MB). */
  private val MemoryCheckpointBytes = 1 << 18

  private def open(url: String): JdbcUpsertStore = { val s = new JdbcUpsertStore(url); s.init(); s }

  /** Embedded Derby store under the given directory. */
  def derby(dir: String): JdbcUpsertStore = open(s"jdbc:derby:$dir;create=true")

  /** In-memory Derby (no fsync per merge) — the right mode when state
    * durability is delegated to checkpoint + replay rather than the
    * store itself. */
  def derbyMemory(name: String): JdbcUpsertStore = {
    val s = open(s"jdbc:derby:memory:$name;create=true")
    s.withConn(c => s.exec(c, "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
      s"'derby.storage.checkpointInterval', '$MemoryCheckpointBytes')"))
    s
  }
}
