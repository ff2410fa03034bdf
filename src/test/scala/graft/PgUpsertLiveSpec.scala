package graft

import java.util.regex.Matcher
import graft.state.JdbcUpsertStore
import org.scalatest.funsuite.AnyFunSuite

/** Executes [[JdbcUpsertStore]]'s EXACT statement text — its DDL,
  * existence probe, keyed UPDATE, INSERT and epoch fence — against a
  * real PostgreSQL server, the engine the reference actually runs on
  * (the reference's README.md:141-144). The golden-string test in
  * StateSpec pins the text and shows a `jdbc:postgresql:` store sends
  * the same text as a Derby store; this suite proves PostgreSQL accepts
  * it with the additive, idempotent and duplicate-key behaviour the
  * store relies on, end to end over psql (no JDBC driver needed).
  *
  * The server is a throwaway socket-only cluster in a temp dir on a
  * non-default port; when PostgreSQL isn't runnable in the environment
  * the suite CANCELS (assume) rather than fails, so the pin remains the
  * golden strings and this is additional evidence where available.
  */
class PgUpsertLiveSpec extends AnyFunSuite with TempDirs {

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

  /** psql with each command's tag printed and errors in verbose form
    * (with their SQLSTATE); all `sqls` run in one session. */
  private def psqlTags(dataDir: String, sqls: String*): (Int, String) =
    run(Seq("psql", "-h", dataDir, "-p", port, "-U", "graft", "-d", "postgres",
      "-v", "ON_ERROR_STOP=1", "-v", "VERBOSITY=verbose") ++ sqls.flatMap(Seq("-c", _)))

  /** `sql` with its `?` parameters bound as `$1, $2, …` — PostgreSQL
    * infers their types from the statement — run with `args` (SQL
    * expressions) through PREPARE / EXECUTE. */
  private def execute(dataDir: String, sql: String, args: String*): (Int, String) = {
    val n = Iterator.from(1)
    val numbered = "\\?".r.replaceAllIn(sql, _ => Matcher.quoteReplacement("$" + n.next()))
    psqlTags(dataDir, s"PREPARE s AS $numbered", s"EXECUTE s(${args.mkString(", ")})")
  }

  test("the store's keyed UPDATE, INSERT, fence and existence probe run live on PostgreSQL") {
    val bins = run(Seq("bash", "-c", "command -v initdb && command -v pg_ctl && command -v psql"))
    assume(bins._1 == 0, "PostgreSQL binaries not on PATH")
    if (isRoot) run(Seq("bash", "-c", "id -u pguser >/dev/null 2>&1 || useradd -m pguser"))
    val base = tempDir("graft-pg").toString
    val data = s"$base/db"
    if (isRoot) run(Seq("chown", "-R", "pguser", base))
    val (ic, iout) = run(serverCmd(s"initdb -D $data -U graft --no-sync -A trust"))
    assume(ic == 0, s"initdb not runnable here: ${iout.linesIterator.take(3).mkString(" | ")}")
    val started = run(serverCmd(
      s"""pg_ctl -D $data -o "-k $data -p $port -c listen_addresses=''" -l $data/log start"""))
    assume(started._1 == 0, s"server failed to start: ${started._2}")
    try {
      JdbcUpsertStore.ddl.foreach(sqlOk(data, _))
      // the existence probe init runs: succeeds on a present table, fails
      // on a missing one
      assert(psql(data, JdbcUpsertStore.probeSql("customer_merchant_summary"))._1 == 0)
      assert(psql(data, JdbcUpsertStore.probeSql("no_such_table"))._1 != 0)

      val cms = JdbcUpsertStore.tables.find(_.target == "customer_merchant_summary").get
      val insert = JdbcUpsertStore.insertSql(cms.target, cms.columns)
      def tagged(r: (Int, String), tag: String) =
        assert(r._1 == 0 && r._2.linesIterator.contains(tag), r._2)
      tagged(execute(data, insert, "'c1'", "'m1'", "3", "10.50", "now()"), "INSERT 0 1")
      tagged(execute(data, insert, "'c2'", "'m1'", "1", "2.25", "now()"), "INSERT 0 1")

      // a present key: the adds accumulate; an absent key: 0 rows, so
      // the store inserts it
      val addC1 = Seq("2", "4.50", "now()", "'c1'", "'m1'")
      tagged(execute(data, cms.updateSql, addC1: _*), "UPDATE 1")
      tagged(execute(data, cms.updateSql, "7", "99.99", "now()", "'c3'", "'m2'"), "UPDATE 0")
      tagged(execute(data, insert, "'c3'", "'m2'", "7", "99.99", "now()"), "INSERT 0 1")
      assert(sqlOk(data,
        """SELECT customer_id, merchant_id, transaction_count, total_amount_sum
           FROM customer_merchant_summary ORDER BY customer_id""") ==
        "c1|m1|5|15.00\nc2|m1|1|2.25\nc3|m2|7|99.99")
      // replay the same update: additive again (the reference's
      // at-least-once double-count, exactly as on Derby)
      tagged(execute(data, cms.updateSql, addC1: _*), "UPDATE 1")
      assert(sqlOk(data,
        "SELECT transaction_count FROM customer_merchant_summary WHERE customer_id = 'c1'")
        == "7")

      // a duplicate INSERT fails with the SQLSTATE the store retries on
      val dup = execute(data, insert, "'c1'", "'m1'", "1", "1.00", "now()")
      assert(dup._1 != 0 && dup._2.contains("23505"), dup._2)

      // fence: first application records the epoch (1 row), replay is a
      // no-op (0 rows) — the INSERT tag carries the count
      val fence = JdbcUpsertStore.fenceSql("customer_merchant_summary", 42L)
      tagged(psqlTags(data, fence), "INSERT 0 1")
      tagged(psqlTags(data, fence), "INSERT 0 0")
      assert(sqlOk(data, "SELECT count(*) FROM applied_epochs") == "1")
    } finally {
      run(serverCmd(s"pg_ctl -D $data stop -m immediate"))
      run(Seq("rm", "-rf", base))
    }
  }
}
