package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test suite run on:
  * `local[n]` with n shuffle partitions, AQE on, UTC, no UI, and Spark
  * logging at WARN.
  *
  * Mains take n from [[cores]]; the tests pin `GraftSession(4)`.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` (the deployment's core count), else the JVM's
    * available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(n: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
