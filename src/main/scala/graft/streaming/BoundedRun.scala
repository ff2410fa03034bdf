package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The one run path of the registered BOUNDED stream queries: run a
  * streaming query to completion (`AvailableNow` into a memory sink)
  * and return its final result as a local frame. A production
  * deployment writes the same query to a real sink with a
  * processing-time trigger. */
object BoundedRun {

  /** Sets `confs` on `spark` while `query` is built and started (the
    * stateful operators read e.g. `spark.sql.shuffle.partitions` at
    * start), then restores them; runs the query to completion on a
    * scratch checkpoint; collects `project` of the memory-sink table
    * into a local frame and drops the sink's view, so repeated cold runs
    * do not accumulate driver-memory tables. `name` prefixes the query
    * name and checkpoint dir. */
  def collect(spark: SparkSession, name: String, outputMode: String,
      confs: Seq[(String, String)],
      project: DataFrame => DataFrame = identity)(query: => DataFrame): DataFrame = {
    val qName = name + java.util.UUID.randomUUID().toString.replace("-", "")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val ckpt = ephemeralCheckpoint(qName)
    val q =
      try query.writeStream.format("memory").queryName(qName)
        .option("checkpointLocation", ckpt)
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
      finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      q.awaitTermination()
      // SPARK_GRAFT_STREAM_DEBUG=1: dump per-micro-batch progress — the
      // cold-attribution loop (batch count × per-batch floor)
      if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("1"))
        q.recentProgress.foreach(p => println(p.json))
    } finally {
      q.stop()
      dropEphemeralCheckpoint(spark, ckpt)
    }
    try {
      val state = project(spark.table(qName))
      spark.createDataFrame(java.util.Arrays.asList(state.collect(): _*), state.schema)
    } finally spark.catalog.dropTempView(qName)
  }

  /** Checkpoint location for a bounded run-to-completion replay (memory
    * sink, rebuilt from scratch every run): the checkpoint has zero
    * recovery value — the recovery story is "re-run the query" — yet
    * every micro-batch pays offset-log, commit-log, and state-delta
    * fsyncs into it, which at high batch counts IS the wall (the c100
    * leg's profile: ~110 ms/batch of metadata writes + ~16 delta
    * commits). Scratch checkpoints therefore go to RAM-backed tmpfs
    * when the host has one, falling back to the JVM tmpdir. An
    * UNBOUNDED production ingest must keep its checkpoint on durable
    * storage. */
  private def ephemeralCheckpoint(name: String): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    s"$base/graft_ckpt/$name"
  }

  private def dropEphemeralCheckpoint(spark: SparkSession, ckpt: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(ckpt)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    } catch { case _: java.io.IOException => () }
}
