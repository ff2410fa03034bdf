package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Drives the event-time streaming operators from the bounded events
  * parquet via a file stream + memory sink (spark_guide pattern), and
  * checks them against batch-mode recomputation. */
class EventStreamsSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    q.processAllAvailable()
    q.stop()
  }

  test("watermarked windowed counts match the batch window aggregation") {
    val stream = EventStreams.eventsStream(spark, sf)
    runToMemory(EventStreams.windowedCounts(stream), "win_counts", "append")
    val got = spark.table("win_counts")
      .select(col("window_start"), col("event_type"), col("n_events"))
    val want = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    // append mode withholds windows newer than the final watermark; all
    // emitted windows must match batch truth exactly
    val gotRows = got.collect().toSet
    val wantRows = want.collect().toSet
    assert(gotRows.nonEmpty)
    assert(gotRows.subsetOf(wantRows))
    // and nearly everything is emitted (only the tail window may lag)
    assert(gotRows.size >= wantRows.size - 5)
  }

  test("dropDuplicatesWithinWatermark keeps event_ids unique") {
    val stream = EventStreams.eventsStream(spark, sf)
    runToMemory(EventStreams.dedupWithinWatermark(stream), "dedup_ev", "append")
    val got = spark.table("dedup_ev")
    assert(got.count() == got.select("event_id").distinct().count())
    assert(got.count() > 0)
  }

  test("streaming HLL rolling uniques converge to the batch sketch exactly") {
    val stream = EventStreams.eventsStream(spark, sf)
    runToMemory(EventStreams.streamingDistinctUsers(stream), "hll_stream",
      "update")
    // update mode re-emits a group's estimate every batch; the LAST
    // emission per group is the converged rolling estimate. The memory
    // sink appends in batch order, so dedup by taking the max batch row
    // via a monotonically increasing sink index isn't available — but
    // estimates are monotone non-decreasing (register max), so per-group
    // max(emission) IS the final emission.
    val got = spark.table("hll_stream")
      .groupBy("event_type").agg(max("est_users").as("est_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // estimates are a deterministic function of the registers, and the
    // element-max merge makes registers independent of chunking
    // (FunctionsSpec pins that law) — so the streamed fold must land on
    // the batch sketch EXACTLY, not merely nearby
    val want = graft.functions.HllSketch.hllDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"streamed $got vs batch $want")
  }

  test("streaming CMS heavy hitters: final emission matches the batch sketch top-N") {
    import graft.functions.CmsSketch
    val stream = EventStreams.eventsStream(spark, sf)
    // exhaustive candidate cap: parity with batch truth must be exact
    runToMemory(EventStreams.streamingHeavyHitters(stream, topN = 5,
      candidateCap = 1000000), "hh_stream", "update")
    val rows = spark.table("hh_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val finalSeq = rows.groupBy(_._1).view.mapValues(_.map(_._5).max).toMap
    val got = rows.filter { case (t, _, _, _, s) => s == finalSeq(t) }
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    // batch truth: per-type sketch (same eps/conf/seed), all users as
    // candidates, top-5 by (estimate desc, user asc)
    val ev = Tables.events(spark, sf)
    val types = ev.select("event_type").distinct().collect().map(_.getString(0))
    val want = types.map { t =>
      val sub = ev.filter(col("event_type") === t).select(col("user_id"))
      val sk = CmsSketch.sketchBytes(sub, "user_id", 0.005, 0.99, 42)
      val top = CmsSketch.estimate(sub.distinct(), "user_id", sk).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (k, e) => (-e, k) }.take(5).toSeq
      t -> top
    }.toMap
    assert(got == want, s"streamed $got vs batch $want")
  }

  test("stream-stream interval join matches batch truth up to the watermark tail") {
    val stream = EventStreams.eventsStream(spark, sf)
    runToMemory(EventStreams.purchaseClickJoin(stream), "ssj", "append")
    val got = spark.table("ssj")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val joined = p.join(c,
      col("c_user") === col("p_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL '5' MINUTE") &&
      col("c_ts") <= col("p_ts") + expr("INTERVAL '5' MINUTE"))
    val want = joined.select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // everything emitted must be batch-true
    assert(got.nonEmpty && got.subsetOf(want))
    // and everything strictly older than the watermark horizon MUST emit
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0).getTime
    val horizon = new java.sql.Timestamp(maxTs - 20 * 60 * 1000L)
    val mustHave = joined
      .filter(col("p_ts") < lit(horizon) && col("c_ts") < lit(horizon))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mustHave.subsetOf(got))
  }

  test("session_window aggregation matches the batch sessionize truth") {
    val stream = EventStreams.eventsStream(spark, sf)
    runToMemory(EventStreams.sessionWindowCounts(stream), "sw_sessions",
      "append")
    val got = spark.table("sw_sessions")
      .select("user_id", "n_events", "start_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      .toSet
    // batch truth: the same gap segmentation via TemporalOps-style lag
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val want = Tables.events(spark, sf)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull ||
          col("ts").cast("long") - col("prev").cast("long") > 30 * 60)
          .cast("int"))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min("ts").as("start_ts"))
      .select("user_id", "n_events", "start_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      .toSet
    // append mode withholds sessions the final watermark hasn't closed
    assert(got.nonEmpty)
    assert(got.subsetOf(want))
    assert(got.size >= want.size / 2)
  }

  test("sessionize merges cross-batch out-of-order arrivals monotonically") {
    // batch 0: events at T0 and T0+60s open a session; batch 1 delivers
    // an event at T0+30s — late but within the 10-min watermark, so it
    // lands BEHIND the open session's end, where the pre-fix left-fold
    // rewound end_ts to T0+30; batch 2's event 2h later closes the
    // session. The one emitted summary must carry the monotone extent
    // [T0, T0+60] with all three events folded in.
    val dir = tempDir("graft-ooo-sessions").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000L)
    import spark.implicits._
    def writeBatch(n: Int,
        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      val stage = s"$dir/_stage$n" // leading _ : invisible to the stream
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/batch$n.parquet")
      assert(part.renameTo(dst))
      // distinct mtimes pin the file-source processing order
      assert(dst.setLastModified(1000000000L + n * 60000L))
    }
    writeBatch(0, Seq((1L, ts(0), 1L, "click", 1.0),
      (2L, ts(60), 1L, "click", 2.0)))
    writeBatch(1, Seq((3L, ts(30), 1L, "click", 4.0)))
    writeBatch(2, Seq((4L, ts(7200), 1L, "click", 8.0)))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/batch0.parquet").schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToMemory(EventStreams.sessionize(stream).toDF(), "ooo_sessions",
      "append")
    val got = spark.table("ooo_sessions").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getTimestamp(3),
        r.getTimestamp(4))).toSeq
    assert(got == Seq((1L, 3L, 7.0, ts(0), ts(60))), s"got $got")
  }

  test("sessionization closes sessions on the inactivity gap") {
    val stream = EventStreams.eventsStream(spark, sf)
    runToMemory(EventStreams.sessionize(stream).toDF(), "sessions", "append")
    val got = spark.table("sessions")
    assert(got.count() > 0)
    // session invariants: positive counts, start <= end
    assert(got.filter(col("n_events") < 1 ||
      col("start_ts") > col("end_ts")).count() == 0)
  }
}
