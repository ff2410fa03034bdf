package graft

import java.nio.file.Files
import graft.ingest.ChunkFeeder
import graft.ops.Patterns
import graft.state.JdbcUpsertStore
import graft.streaming.{MicroBatchRunner, NativeStatePipeline}
import org.apache.spark.sql.functions._

/** Runnable replica of the reference's two-process pipeline
  * (README.md:31-62 of /root/reference): Mechanism X chunks the
  * transaction table into 10k-row CSV files in a watched directory;
  * Mechanism Y streams them through the micro-batch detector with an
  * embedded-Derby state store and writes 50-row detection CSVs.
  *
  *   sbt "runMain graft.PipelineDemo [sfDir] [chunkSize] [rate-ms] [scale|native]"
  *
  * Fourth arg: `scale` switches the runner to scale mode (keyed state
  * reads + distributed detection sink); `native` replaces the external
  * store entirely with [[NativeStatePipeline]] (state in Spark's own
  * checkpointed state store via flatMapGroupsWithState) and reads its
  * state tables back from the query's checkpoint — the modes give an
  * apples-to-apples throughput ladder.
  *
  * Prints per-batch progress, final state-table sizes, detection file
  * inventory, and end-to-end throughput.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val chunkSize = if (args.length > 1) args(1).toInt else 10000
    val rateMs = if (args.length > 2) args(2).toLong else 0L
    val mode = if (args.length > 3) args(3) else "parity"
    val scaleMode = mode == "scale"
    val nativeMode = mode == "native"

    val spark = GraftSession()

    val base = Files.createTempDirectory("graft-pipeline").toString
    try {
      println(s"[pipeline] working dir: $base")
      val store = if (nativeMode) null
        else JdbcUpsertStore.derbyMemory("pipeline-demo")

      // the reference's full 10-column CSV shape (txStreamSchema order);
      // constant filler mirrors BankSim's mostly-constant columns
      val tx = Tables.transactions(spark, sfDir).select(
        lit(0).as("step"),
        col("customer").cast("string").as("customer"),
        lit("3").as("age"),
        col("gender"),
        lit("28007").as("zipcodeOri"),
        col("merchant").cast("string").as("merchant"),
        lit("28007").as("zipMerchant"),
        col("category"),
        col("amount").cast("double").as("amount"),
        lit(0).as("fraud"))
      val nRows = tx.count()

      val t0 = System.nanoTime()
      val nChunks = ChunkFeeder.feed(tx, s"$base/in", chunkSize, rateMs)
      println(s"[mechanism-x] fed $nChunks chunk files ($nRows rows)")

      // static dim via the reference's CSV path (S2): export once, read
      // back with the explicit schema, cache inside the runner
      Tables.importance(spark, sfDir).coalesce(1)
        .write.option("header", "true").csv(s"$base/importance_csv")
      val importanceDim = Tables.importanceFromCsv(spark, s"$base/importance_csv")

      println(s"[mechanism-y] mode: $mode")
      val secs = if (nativeMode) {
        val pipeline = new NativeStatePipeline(spark, importanceDim, s"$base/out")
        val q = pipeline.start(s"$base/in", s"$base/cp", triggerInterval = "1 second")
        q.processAllAvailable()
        q.stop()
        (System.nanoTime() - t0) / 1e9
      } else {
        val runner = new MicroBatchRunner(spark, store, importanceDim, s"$base/out",
          scaleMode = scaleMode)
        val q = runner.start(s"$base/in", s"$base/cp", triggerInterval = "1 second")
        q.processAllAvailable()
        q.stop()
        runner.flushRemainder()
        (System.nanoTime() - t0) / 1e9
      }

      println(f"[mechanism-y] processed $nRows rows in $secs%.1f s " +
        f"(${nRows / secs}%.0f rows/s end-to-end incl. feed + state round-trips)")
      val stateTables = if (nativeMode) Seq(
          "merchant_summary" -> NativeStatePipeline.merchantSummary(spark, s"$base/cp"),
          "customer_merchant_summary" -> NativeStatePipeline.custMerchantSummary(spark, s"$base/cp"),
          "merchant_gender_summary" -> NativeStatePipeline.genderSummary(spark, s"$base/cp"))
        else Seq(
          "merchant_summary" -> store.merchantSummary(spark),
          "customer_merchant_summary" -> store.custMerchantSummary(spark),
          "merchant_gender_summary" -> store.genderSummary(spark))
      for ((name, df) <- stateTables)
        println(s"[state] $name: ${df.count()} rows")
      val outDirs = Option(new java.io.File(s"$base/out").listFiles()).getOrElse(Array())
        .filter(_.isDirectory)
      val detections = if (outDirs.isEmpty) 0L
        else spark.read.option("header", "true")
          .csv(outDirs.map(_.toString): _*).count()
      println(s"[detections] ${outDirs.length} files, $detections rows")
      if (store != null) store.close()
    } finally {
      spark.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    }
  }
}
