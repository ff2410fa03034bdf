package graft

import graft.streaming.StreamingQuotaGate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming token-quota gate: stream across doc_id-ordered
  * micro-batches == the SQL window truth; state carries totals across
  * batches; an overflowing source stays closed; arrival-order semantics
  * on out-of-order feeds match a plain fold. */
class StreamingQuotaGateSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def windowTruth(quota: Long): Map[Long, (String, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(graft.llm.TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .filter(col("cum") <= quota)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("gate across doc_id-ordered micro-batches == SQL window truth; overflowed sources stay closed") {
    val quota = 800L
    val dir = tempDir("graft-sqg").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text")
    // RANGE split (not residue): micro-batches must arrive in doc_id
    // order for the stream to equal the doc_id-ordered oracle
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val parts = Seq(
      docs.filter(col("doc_id") <= cuts(0)),
      docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      docs.filter(col("doc_id") > cuts(1)))
    for ((p, m) <- parts.zipWithIndex)
      p.coalesce(1).write.mode("overwrite").parquet(f"$dir/part=$m")
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part=*")
    val name = "sqg_spec"
    val q = StreamingQuotaGate.admissions(stream, quota).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = windowTruth(quota)
    assert(got == want && want.nonEmpty)
    // the quota really cuts: some source must have dropped documents
    val admittedPerSource = got.values.groupBy(_._1).map { case (s, v) => s -> v.size }
    val allPerSource = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(allPerSource.exists { case (s, n) =>
      admittedPerSource.getOrElse(s, 0) < n },
      "quota never engaged — raise the corpus or lower the quota")
    // cross-batch state: some admitted doc must arrive after batch 0
    assert(want.keys.exists(_ > cuts(0)),
      "every admission fit in the first batch — state never consulted")
  }

  test("arrival-order semantics: an out-of-order feed admits by ARRIVAL prefix, not doc_id") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val docs = mem.toDF.toDF("doc_id", "source", "text")
    val name = "sqg_ooo"
    val q = StreamingQuotaGate.admissions(docs, quota = 5L).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    // batch 1: doc 10 (3 tokens) admitted, cum=3
    mem.addData((10L, "s", "a b c"))
    q.processAllAvailable()
    // batch 2: doc 5 arrives LATE with 3 tokens → cum=6 > 5, rejected —
    // even though by doc_id order it would have been admitted first
    mem.addData((5L, "s", "d e f"))
    q.processAllAvailable()
    // batch 3: doc 20 (1 token) → cum=7, still rejected (monotone close)
    mem.addData((20L, "s", "g"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == Set((10L, 3L)))
  }

  test("determinism: replaying the same out-of-order arrival sequence reproduces admissions bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // an out-of-doc_id-order, multi-source feed split over 3 batches
    val batches = Seq(
      Seq((30L, "x", "a b"), (7L, "y", "c d e")),
      Seq((2L, "x", "f g h"), (40L, "y", "i")),
      Seq((15L, "x", "j"), (1L, "y", "k l m n")))
    def run(tag: String): Seq[(Long, String, Long, Long)] = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val docs = mem.toDF.toDF("doc_id", "source", "text")
      val name = s"sqg_det_$tag"
      val q = StreamingQuotaGate.admissions(docs, quota = 6L).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._2, r._1)).toSeq
      spark.catalog.dropTempView(name)
      rows
    }
    val a = run("a")
    val b = run("b")
    assert(a == b, s"replay diverged:\n$a\n$b")
    // and the admitted set is the arrival-prefix truth: x admits 30
    // (cum 2) then 2 (cum 5) then closes at 15 (cum 6 <= 6 → admitted);
    // y admits 7 (cum 3) then closes at 40 (cum 4 <= 6 → admitted),
    // rejects 1 (cum 8)
    assert(a == Seq((2L, "x", 3L, 5L), (15L, "x", 1L, 6L), (30L, "x", 2L, 2L),
      (7L, "y", 3L, 3L), (40L, "y", 1L, 4L)), a.toString)
  }
}
