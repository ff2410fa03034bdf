package graft

import org.apache.spark.sql.SparkSession

/** Names the call site of the Spark jobs an action starts. AQE submits
  * every stage of a Dataset action from its own pool threads, whose
  * stacks name only Spark, so listeners and the UI would file the jobs
  * under Spark internals; the call site travels with the caller's local
  * properties instead. */
object CallSite {
  private val keys = Seq("callSite.short", "callSite.long")

  /** `body`, with `label` as the call site of every job it starts on
    * this thread; the caller's own call site is restored afterwards. */
  def named[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, label))
    try body finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
