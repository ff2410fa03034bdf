package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration on one operator (the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // failures are RECORDED, not just logged: a query that throws leaves
    // an explicit row in errors.json, so the round's correctness artifact
    // stays diffable (15 silently-missing entries in round 9 made the
    // regression invisible in the machine-readable output)
    val errors = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
      .sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.getClass.getSimpleName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // trained-constant oracles generate in THIS session, after the
    // queries ran — every embedded double is the run's own memoized
    // model; a generator failure is recorded like a query failure
    // rather than silently shrinking the oracle set
    val (dynamic, dynErrors) =
      try (SparkEntry.dynamicOracleSql(spark, sfDir, selected),
        Seq.empty[(String, String)])
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle generation failed: $e")
        (Map.empty[String, String],
          Seq("dynamic_oracle_sql" -> e.getClass.getSimpleName))
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .filter(kv => selected(kv._1)) // no-op for the driver's full run
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = (errors ++ dynErrors)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    spark.stop()
  }
}
