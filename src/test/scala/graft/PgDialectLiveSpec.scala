package graft

import java.nio.file.Files
import graft.state.UpsertDialect
import org.scalatest.funsuite.AnyFunSuite

/** Executes the PostgreSQL dialect's EXACT statement text against a real
  * PostgreSQL server — the engine the reference actually runs on
  * (/root/reference/README.md:141-144). The golden-string tests in
  * StateSpec pin the SQL shape; this suite proves the shape is accepted
  * and has the additive-merge + idempotent-fence semantics we claim,
  * end to end over psql (no JDBC driver needed).
  *
  * The server is a throwaway socket-only cluster in a temp dir on a
  * non-default port; when PostgreSQL isn't runnable in the environment
  * the suite CANCELS (assume) rather than fails, so the pin remains the
  * golden strings and this is additional evidence where available.
  */
class PgDialectLiveSpec extends AnyFunSuite {

  private val port = "54329"

  private def run(cmd: Seq[String]): (Int, String) = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    (p.waitFor(), out)
  }

  private def isRoot: Boolean = run(Seq("id", "-u"))._2.trim == "0"

  /** Server-side commands must not run as root; client (psql) may. */
  private def serverCmd(cmd: String): Seq[String] =
    if (isRoot) Seq("su", "pguser", "-c", cmd) else Seq("bash", "-c", cmd)

  private def psql(dataDir: String, sql: String): (Int, String) =
    run(Seq("psql", "-h", dataDir, "-p", port, "-U", "graft", "-d", "postgres",
      "-v", "ON_ERROR_STOP=1", "-A", "-t", "-c", sql))

  private def sqlOk(dataDir: String, sql: String): String = {
    val (c, out) = psql(dataDir, sql)
    assert(c == 0, s"psql failed: $out\nSQL: $sql")
    out.trim
  }

  test("PG ON CONFLICT merge + fence run live with additive and idempotent semantics") {
    val bins = run(Seq("bash", "-c", "command -v initdb && command -v pg_ctl && command -v psql"))
    assume(bins._1 == 0, "PostgreSQL binaries not on PATH")
    if (isRoot) run(Seq("bash", "-c", "id -u pguser >/dev/null 2>&1 || useradd -m pguser"))
    val base = Files.createTempDirectory("graft-pg").toString
    val data = s"$base/db"
    if (isRoot) run(Seq("chown", "-R", "pguser", base))
    val (ic, iout) = run(serverCmd(s"initdb -D $data -U graft --no-sync -A trust"))
    assume(ic == 0, s"initdb not runnable here: ${iout.linesIterator.take(3).mkString(" | ")}")
    val started = run(serverCmd(
      s"""pg_ctl -D $data -o "-k $data -p $port -c listen_addresses=''" -l $data/log start"""))
    assume(started._1 == 0, s"server failed to start: ${started._2}")
    try {
      val dialect = UpsertDialect.forUrl("jdbc:postgresql://x/y")
      assert(dialect == UpsertDialect.PgOnConflict)

      // DDL per sql/postgres_tables.sql:11-16 + the fence table; the temp
      // table mirrors what Spark's JDBC writer creates (quoted lowercase
      // columns — on PG identical to unquoted)
      sqlOk(data, """CREATE TABLE customer_merchant_summary (
        customer_id VARCHAR(255) NOT NULL,
        merchant_id VARCHAR(255) NOT NULL,
        transaction_count BIGINT NOT NULL,
        total_amount_sum DECIMAL(18,2) NOT NULL,
        last_updated TIMESTAMP,
        PRIMARY KEY (customer_id, merchant_id))""")
      sqlOk(data, """CREATE TABLE temp_cms_updates (
        "customer_id" VARCHAR(255), "merchant_id" VARCHAR(255),
        "transaction_count" BIGINT, "total_amount_sum" DECIMAL(18,2),
        "last_updated" TIMESTAMP)""")
      sqlOk(data, """CREATE TABLE applied_epochs (
        table_name VARCHAR(64) NOT NULL, epoch_id BIGINT NOT NULL,
        PRIMARY KEY (table_name, epoch_id))""")

      sqlOk(data, """INSERT INTO customer_merchant_summary VALUES
        ('c1', 'm1', 3, 10.50, now()), ('c2', 'm1', 1, 2.25, now())""")
      sqlOk(data, """INSERT INTO temp_cms_updates VALUES
        ('c1', 'm1', 2, 4.50, now()),   -- conflict path: adds accumulate
        ('c3', 'm2', 7, 99.99, now())""") // insert path: new key

      val merge = UpsertDialect.PgOnConflict.mergeSql("customer_merchant_summary", "temp_cms_updates",
        Seq("customer_id", "merchant_id"),
        Seq("transaction_count", "total_amount_sum"))
      sqlOk(data, merge)
      assert(sqlOk(data,
        """SELECT customer_id, merchant_id, transaction_count, total_amount_sum
           FROM customer_merchant_summary ORDER BY customer_id""") ==
        "c1|m1|5|15.00\nc2|m1|1|2.25\nc3|m2|7|99.99")
      // replay the same merge: additive again (the reference's
      // at-least-once double-count, exactly as on Derby)
      sqlOk(data, merge)
      assert(sqlOk(data,
        "SELECT transaction_count FROM customer_merchant_summary WHERE customer_id = 'c1'")
        == "7")

      // fence: first application records the epoch (1 row), replay is a
      // no-op (0 rows) — the INSERT tag carries the count
      val fence = dialect.fenceSql("customer_merchant_summary", 42L)
      val first = run(Seq("psql", "-h", data, "-p", port, "-U", "graft",
        "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-c", fence))
      assert(first._1 == 0 && first._2.contains("INSERT 0 1"), first._2)
      val second = run(Seq("psql", "-h", data, "-p", port, "-U", "graft",
        "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-c", fence))
      assert(second._1 == 0 && second._2.contains("INSERT 0 0"), second._2)
      assert(sqlOk(data, "SELECT count(*) FROM applied_epochs") == "1")
    } finally {
      run(serverCmd(s"pg_ctl -D $data stop -m immediate"))
    }
  }
}
