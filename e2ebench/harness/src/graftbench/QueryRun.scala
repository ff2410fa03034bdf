package graftbench

import graft.{Caches, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Registered queries, cold-cache on a warm JVM: Caches.release before
  * every query, timed in two parts like graft's Bench (builder time, then
  * execution of the full output via queryExecution.toRdd). One untimed
  * pass first warms the JIT, builds the derived indexes graft keeps under
  * java.io.tmpdir, and writes each output for run.py's oracle check; then
  * `passes` timed passes, each of which must return the warm-up's row
  * counts. */
object QueryRun {

  def apply(spark: SparkSession, spec: Harness.Spec, trace: Trace,
      engine: EngineListener, out: java.util.Map[String, AnyRef]): Unit = {
    val dir = spec.str("data_dir")
    val names = spec.strs("queries")
    val modules = spec.strs("modules")
    val module = names.zip(modules).toMap
    val outputs = spec.str("output_dir")
    val sc = spark.sparkContext

    out.put("table_stamps", new java.io.File(dir).list().sorted.map { f =>
      f -> Tables.fileStamp(spark, s"$dir/$f")
    }.toMap.asJava)

    // warm-up pass: outputs + oracle SQL, row counts
    sc.setLocalProperty(EngineListener.PhaseKey, "warmup")
    val oracles = new java.util.LinkedHashMap[String, AnyRef]()
    val rowsByQuery = names.map { name =>
      Caches.release(spark)
      trace.span(s"setup.warmup.$name") {
        val path = s"$outputs/$name"
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.parquet(path)
        oracles.put(name, SparkEntry.oracleSql.getOrElse(name,
          SparkEntry.dynamicOracles(name)(spark, dir)))
        name -> spark.read.parquet(path).count()
      }
    }.toMap
    out.put("oracle_sql", oracles)
    out.put("warmup_rows", rowsByQuery.map { case (k, v) => k -> Long.box(v) }.asJava)

    val passes = spec.int("passes")
    val probeBefore = Harness.Probe.burst(spec.int("cores"), Harness.ProbeSeconds)
    sc.setLocalProperty(EngineListener.PhaseKey, "timed")
    val windowStart = System.currentTimeMillis() / 1e3
    val cpu0 = Harness.cpuSeconds()
    val (jit0, gc0) = Harness.jvmMs()
    var mismatches = 0
    val timings = (1 to passes).map { pass =>
      trace.span("suite.pass", Map("pass" -> pass)) {
        names.map { name =>
          Caches.release(spark)
          val layer = module(name)
          trace.span(s"$layer.$name") {
            val t0 = System.nanoTime()
            val df = trace.span(s"$layer.$name.builder")(SparkEntry.queries(name)(spark, dir))
            val builder = Harness.seconds(t0)
            val t1 = System.nanoTime()
            val rows = trace.span(s"$layer.$name.exec")(df.queryExecution.toRdd.count())
            val exec = Harness.seconds(t1)
            if (rows != rowsByQuery(name)) mismatches += 1
            name -> (builder, exec)
          }
        }
      }
    }
    val cpuS = Harness.cpuSeconds() - cpu0
    val (jit1, gc1) = Harness.jvmMs()
    val probeAfter = Harness.Probe.burst(spec.int("cores"), Harness.ProbeSeconds)
    val persisted = sc.getPersistentRDDs.size
    val heapMb = Harness.liveHeapMb()
    sc.setLocalProperty(EngineListener.PhaseKey, null)

    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("window_start_wall_s", Double.box(windowStart))
    m.put("cpu_s", Double.box(cpuS))
    m.put("heap_live_mb", Double.box(heapMb))
    Harness.putProbe(probeBefore, probeAfter, m)
    m.put("jit_ms", Long.box(jit1 - jit0))
    m.put("gc_ms", Long.box(gc1 - gc0))
    m.put("row_mismatches", Int.box(mismatches))
    m.put("persisted_rdds", Int.box(persisted))
    m.put("passes", timings.map { pass =>
      pass.map { case (n, (b, e)) =>
        n -> Map("builder_s" -> Double.box(b), "exec_s" -> Double.box(e)).asJava
      }.toMap.asJava
    }.asJava)
    out.put("queries", m)

    if (trace.enabled) {
      org.apache.spark.BenchBus.drain(sc)
      out.put("engine", engine.total(_ == "timed").toJava)
    }
  }
}
