package graft

import org.apache.spark.sql.functions._

/** End-to-end throughput of the continuous-curation loop over the
  * documents table — the production-shape number beside PipelineDemo's
  * transaction throughput: NFC ingest → standing-index probe →
  * within-batch self-dedup → decontam screen → PII scrub → quality
  * gate → reference-LM gate → fold-in, driven as `nBatches` sequential
  * micro-batches (each batch probes the index the previous ones
  * built). Prints one JSON line:
  *
  *   sbt "runMain graft.CurationDemo /root/testdata/sf0.1 [nBatches]"
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nBatches = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession()

    val base = java.nio.file.Files.createTempDirectory("graft-curation-demo")
      .toString
    try {
      val docs = Tables.fanOut(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text")).cache()
      val total = docs.count()
      // benchmark carve mirrors the decontam query (doc_id % 20 == 7);
      // the reference-LM corpus is the benchmark carve too — small,
      // trusted-shaped, and already held out
      val bench = docs.filter(col("doc_id") % 20 === 7)
      val corpus = docs.filter(col("doc_id") % 20 =!= 7)
      val pipeline = new graft.streaming.CurationPipeline(
        spark, s"$base/idx", s"$base/out",
        benchmark = Some(bench), lmRef = Some(bench), lmScoreFloor = -12.0)

      // jobs-per-batch is the WINDOW-INDEPENDENT shape metric (this host's
      // episodic steal inflates the per-job scheduler floor 2-5×, so
      // docs/s alone can't adjudicate a code change). Counted by a global
      // listener, NOT per-thread job groups: the pipeline's epoch writes
      // run on shared Future pool threads whose inherited job-group
      // property is whatever batch first created the worker, so group
      // counts misattribute 2-3 jobs per batch. Batches run sequentially
      // and nothing else submits jobs, so a global counter snapshotted at
      // the batch boundary is the honest count (± listener-bus lag of a
      // job or two on multi-second batches).
      val jobCounter = new java.util.concurrent.atomic.AtomicInteger()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobCounter.incrementAndGet(); ()
          }
        })
      val t0 = System.nanoTime()
      val jobCounts = (0 until nBatches).map { b =>
        val before = jobCounter.get()
        val tb = System.nanoTime()
        pipeline.processBatch(corpus.filter(col("doc_id") % nBatches === b), b.toLong)
        if (sys.env.get("SPARK_GRAFT_CURATION_DEBUG").contains("1"))
          println(f"[curation] batch $b total: ${(System.nanoTime() - tb) / 1e9}%.2f s")
        jobCounter.get() - before
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val kept = spark.read.parquet(s"$base/out/kept").count()
      val m = spark.read.parquet(s"$base/out/metrics")
        .agg(sum("n_in"), sum("drop_index_dup"), sum("drop_self_dup"),
          sum("drop_contaminated"), sum("drop_quality"), sum("drop_lm"))
        .head()
      println(s"""{"metric":"curation_docs_per_sec","value":${
        math.rint((m.getLong(0) / sec) * 10) / 10
      },"unit":"docs/sec","sec":${math.rint(sec * 100) / 100},"docs":${
        m.getLong(0)},"total_corpus":$total,"batches":$nBatches,"jobs_per_batch":${
        jobCounts.mkString("[", ",", "]")},"kept":$kept,"drops":{"index_dup":${
        m.getLong(1)},"self_dup":${m.getLong(2)},"contaminated":${
        m.getLong(3)},"quality":${m.getLong(4)},"lm":${m.getLong(5)}}}""")
    } finally {
      spark.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    }
  }
}
