package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run in its own JVM. `run.py` writes a spec (JSON) into
  * the run's private directory and launches
  *
  *   java ... graftbench.Harness <runDir>/spec.json
  *
  * The harness drives graft only through its public entry points
  * (MicroBatchRunner, JdbcUpsertStore, ChunkFeeder, SparkEntry), writes
  * raw measurements to `<runDir>/result.json` and, in a traced run, its
  * spans to `<runDir>/spans.jsonl`. Metric assembly and output checks
  * that need an independent reference happen in run.py. */
object Harness {

  final class Spec(m: java.util.Map[String, AnyRef]) {
    def str(k: String): String = {
      require(m.containsKey(k), s"spec lacks '$k'")
      m.get(k).toString
    }
    def int(k: String): Int = str(k).toInt
    def bool(k: String): Boolean = str(k).toBoolean
    def strs(k: String): Seq[String] =
      m.get(k).asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString).toSeq
  }

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    require(args.length == 1, "usage: graftbench.Harness <spec.json>")
    val spec = new Spec(mapper.readValue(Files.readString(Paths.get(args(0))),
      classOf[java.util.Map[String, AnyRef]]))
    val runDir = spec.str("run_dir")
    val trace = new Trace(spec.str("run_id"), enabled = spec.bool("trace"))
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    val spark = trace.span("setup.session")(session(spec))
    out.put("session_s", Double.box((System.nanoTime() - t0) / 1e9))
    val engine = new EngineListener
    if (trace.enabled) spark.sparkContext.addSparkListener(engine)
    try {
      spec.str("workload_kind") match {
        case "stream" => StreamRun(spark, spec, trace, engine, out)
        case "queries" => QueryRun(spark, spec, trace, engine, out)
        case k => sys.error(s"unknown workload kind $k")
      }
      if (trace.enabled) {
        trace.write(s"$runDir/spans.jsonl")
        out.put("self_ms", trace.selfTimesMs())
      }
      out.put("launch", launchRecord(spark))
    } finally spark.stop()
    Files.writeString(Paths.get(s"$runDir/result.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
  }

  /** Spark pinned to one process at local[cores]: shuffle partitions =
    * cores, AQE on (graft's Bench configuration), every scratch
    * directory inside the run's private directory. */
  def session(spec: Spec): SparkSession = {
    val cores = spec.int("cores")
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spec.str("spark_local_dir"))
      .config("spark.sql.warehouse.dir", spec.str("warehouse_dir"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The launch settings as the running JVM and session see them. */
  def launchRecord(spark: SparkSession): java.util.Map[String, AnyRef] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
    val conf = spark.conf
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("jvm_args", rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).asJava)
    m.put("java_version", System.getProperty("java.version"))
    m.put("gc", gcs.mkString(","))
    m.put("heap_max_mb", Long.box(Runtime.getRuntime.maxMemory() >> 20))
    m.put("master", spark.sparkContext.master)
    m.put("spark_version", spark.version)
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.default.parallelism").foreach(k => m.put(k, conf.get(k)))
    m
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds so far (all threads, user + system). */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Heap in use after full collections, in MiB. Spark's ContextCleaner
    * frees shuffle and broadcast blocks only after a collection has
    * cleared their references, so collect, give it a moment, and repeat
    * until the figure stops falling. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var next = { Thread.sleep(300); collect() }
    var rounds = 1
    while (next < last * 0.99 && rounds < 5) {
      last = next
      Thread.sleep(300)
      next = collect()
      rounds += 1
    }
    math.min(last, next)
  }

  /** Cumulative JIT compile and collector time in ms, as the JVM counts them. */
  def jvmMs(): (Long, Long) = {
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (jit, gc)
  }

  /** Host-speed probe: a fixed integer loop timed in thread CPU time.
    * Thread CPU time leaves out waiting for a core, so a probe reads how
    * fast a core runs; on a shared host that drifts by tens of percent
    * from minute to minute, and every timing of the run drifts with it.
    * `burst` runs the probe back to back on `threads` threads for
    * `seconds` and returns every probe's ns. It is called only while no
    * Spark work runs, so the program's own load cannot move it. */
  object Probe {
    @volatile private var sink = 0L

    private def once(bean: java.lang.management.ThreadMXBean): Long = {
      val t0 = bean.getCurrentThreadCpuTime
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 1000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
      bean.getCurrentThreadCpuTime - t0
    }

    def burst(threads: Int, seconds: Double): Seq[Long] = {
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val until = System.nanoTime() + (seconds * 1e9).toLong
      val ts = (1 to threads).map { i =>
        val t = new Thread(() => {
          val bean = ManagementFactory.getThreadMXBean
          while (System.nanoTime() < until) samples.add(once(bean))
        }, s"graftbench-probe-$i")
        t.start()
        t
      }
      ts.foreach(_.join())
      samples.asScala.toSeq
    }
  }

  val ProbeSeconds = 1.5

  /** Probe bursts just before and just after the timed work, with Spark
    * idle: the median of all their samples, and each burst's median. */
  def putProbe(before: Seq[Long], after: Seq[Long], m: java.util.Map[String, AnyRef]): Unit = {
    def med(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2).toDouble
    }
    m.put("probe_ns", Double.box(med(before ++ after)))
    m.put("probe_samples", Int.box(before.size + after.size))
    m.put("probe_before_ns", Double.box(med(before)))
    m.put("probe_after_ns", Double.box(med(after)))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
