package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark engine counters, bucketed by the phase a job ran in: a
  * streaming job carries its micro-batch id ("batch:<n>"), any other job
  * the harness's `graftbench.phase` local property, else "other".
  * Events arrive on one listener-bus thread; reads happen after
  * [[org.apache.spark.BenchBus.drain]]. */
final class EngineListener extends SparkListener {
  import EngineListener.Counters

  private val byTag = mutable.Map.empty[String, Counters]
  private val stageTag = mutable.Map.empty[Int, String]

  private def counters(tag: String): Counters =
    synchronized(byTag.getOrElseUpdate(tag, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(b => s"batch:$b")
      .orElse(p.flatMap(x => Option(x.getProperty(EngineListener.PhaseKey))))
      .getOrElse("other")
    synchronized(e.stageIds.foreach(stageTag(_) = tag))
    counters(tag).jobs += 1
  }

  private def tagOf(stageId: Int): String = synchronized(stageTag.getOrElse(stageId, "other"))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = counters(tagOf(info.stageId))
    c.stages += 1
    if (info.rddInfos.exists(_.name.contains("JDBC")))
      c.jdbcTaskMs += Option(info.taskMetrics).map(_.executorRunTime).getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(tagOf(e.stageId))
    c.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters summed over the tags `keep` accepts. */
  def total(keep: String => Boolean): Counters = synchronized {
    byTag.filter { case (t, _) => keep(t) }.values.foldLeft(new Counters)(_ add _)
  }

  /** Jobs per tag, for the tags `keep` accepts. */
  def jobsByTag(keep: String => Boolean): Map[String, Long] = synchronized {
    byTag.collect { case (t, c) if keep(t) => t -> c.jobs }.toMap
  }
}

object EngineListener {
  val PhaseKey = "graftbench.phase"

  final class Counters {
    var jobs, stages, tasks, failedTasks, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, jdbcTaskMs = 0L
    def add(o: Counters): Counters = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; jdbcTaskMs += o.jdbcTaskMs
      this
    }
    def toJava: java.util.Map[String, AnyRef] = {
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("spark.jobs", Long.box(jobs)); m.put("spark.stages", Long.box(stages))
      m.put("spark.tasks", Long.box(tasks))
      m.put("spark.executor_cpu_s", Double.box(cpuNs / 1e9))
      m.put("spark.gc_s", Double.box(gcMs / 1e3))
      m.put("spark.shuffle_read_bytes", Long.box(shuffleRead))
      m.put("spark.shuffle_write_bytes", Long.box(shuffleWrite))
      m.put("spark.spill_bytes", Long.box(spill))
      m.put("spark.failed_tasks", Long.box(failedTasks))
      m
    }
  }
}
