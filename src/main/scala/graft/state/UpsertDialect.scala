package graft.state

/** SQL dialect for the additive state upsert (K3). The reference's
  * production stack is PostgreSQL 14 (/root/reference/README.md:141-144),
  * whose upsert form is `INSERT … ON CONFLICT (pk) DO UPDATE SET
  * col = target.col + EXCLUDED.col` ("Mechanism Y.py":152-160) — PG14
  * has no `MERGE` (that arrived in PG15). Embedded Derby (the test
  * store) speaks the ANSI `MERGE INTO` form instead. The dialect is
  * selected from the JDBC URL so pointing the store at the reference's
  * RDS emits the reference's exact statement shape.
  *
  * Column references on the temp-table side are quoted:
  * [[JdbcUpsertStore.init]] creates the temp tables with quoted
  * (case-preserved, lowercase) column names, so unquoted refs would
  * canonicalize differently (Derby: uppercase) and miss.
  */
sealed trait UpsertDialect {
  /** One set-based additive merge of `temp` into `target`: keys match →
    * adds accumulate (+=) and last_updated refreshes; keys absent →
    * insert. */
  def mergeSql(target: String, temp: String, keys: Seq[String],
      adds: Seq[String]): String

  /** Idempotence-fence insert for (table, epoch): update count is 1 if
    * the epoch was newly recorded, 0 if already applied. Expressed as a
    * conditional insert (not insert-then-catch) so it can run inside the
    * same transaction as the merge without aborting it — PostgreSQL
    * aborts the whole transaction on any statement error, so the
    * exception-based fence would poison the merge. */
  def fenceSql(table: String, epoch: Long): String

  protected final def q(c: String): String = "\"" + c + "\""
}

object UpsertDialect {

  /** ANSI MERGE (Derby, also valid on PG15+/SQL Server/Oracle). */
  case object Merge extends UpsertDialect {
    override def mergeSql(target: String, temp: String, keys: Seq[String],
        adds: Seq[String]): String = {
      val on = keys.map(k => s"t.$k = s.${q(k)}").mkString(" AND ")
      val sets = (adds.map(a => s"t.$a = t.$a + s.${q(a)}") :+
        s"t.last_updated = s.${q("last_updated")}").mkString(", ")
      val cols = (keys ++ adds :+ "last_updated").mkString(", ")
      val vals = (keys ++ adds :+ "last_updated").map(x => s"s.${q(x)}").mkString(", ")
      s"""MERGE INTO $target t USING $temp s ON ($on)
         |WHEN MATCHED THEN UPDATE SET $sets
         |WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)""".stripMargin
    }

    override def fenceSql(table: String, epoch: Long): String =
      // Derby has no ON CONFLICT; NOT EXISTS over the one-row dummy table
      // gives the same "insert if absent, count tells" contract.
      s"""INSERT INTO applied_epochs (table_name, epoch_id)
         |SELECT '$table', $epoch FROM SYSIBM.SYSDUMMY1
         |WHERE NOT EXISTS (SELECT 1 FROM applied_epochs
         |  WHERE table_name = '$table' AND epoch_id = $epoch)""".stripMargin
  }

  /** PostgreSQL `INSERT … ON CONFLICT DO UPDATE` — the reference's
    * statement shape ("Mechanism Y.py":152-160; sql/postgres_tables.sql
    * PKs are the conflict targets). */
  case object PgOnConflict extends UpsertDialect {
    override def mergeSql(target: String, temp: String, keys: Seq[String],
        adds: Seq[String]): String = {
      val cols = (keys ++ adds :+ "last_updated").mkString(", ")
      val sel = (keys ++ adds :+ "last_updated").map(q).mkString(", ")
      val conflict = keys.mkString(", ")
      // COALESCE on both sides per the reference's statement
      // ("Mechanism Y.py":178) — harmless under the NOT NULL DDL, kept
      // for exact statement-shape parity.
      val sets = (adds.map(a =>
        s"$a = COALESCE($target.$a, 0) + COALESCE(EXCLUDED.$a, 0)") :+
        "last_updated = EXCLUDED.last_updated").mkString(", ")
      s"""INSERT INTO $target ($cols)
         |SELECT $sel FROM $temp
         |ON CONFLICT ($conflict) DO UPDATE SET $sets""".stripMargin
    }

    override def fenceSql(table: String, epoch: Long): String =
      s"""INSERT INTO applied_epochs (table_name, epoch_id)
         |VALUES ('$table', $epoch)
         |ON CONFLICT (table_name, epoch_id) DO NOTHING""".stripMargin
  }

  /** Dialect by JDBC URL: postgresql → ON CONFLICT, anything else →
    * ANSI MERGE. */
  def forUrl(url: String): UpsertDialect =
    if (url.toLowerCase.startsWith("jdbc:postgresql")) PgOnConflict else Merge
}
