package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators over the `events` table shape — the
  * extension surface the reference lacks entirely (it is processing-time
  * only, SURVEY.md §2.8): watermarked tumbling-window aggregation,
  * watermark-bounded deduplication, and custom sessionization state via
  * flatMapGroupsWithState.
  *
  * Each takes the streaming DataFrame as input so tests can drive it
  * from a bounded file stream (parquet dir) and production from any
  * source. State lives in Spark's state store (RocksDB/HDFS-backed on a
  * cluster), partitioned by group key — no external DB, scales with
  * executors.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Long,
      total_value: Double, start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp)

  /** Streaming source over the events parquet in the sf dir (the file
    * stream source wants a directory, so the sf dir is the base path
    * with a glob pinned to the events table). A file stream needs its
    * schema declared up front, but the generator has shipped `ts` as
    * both TIMESTAMP(NANOS)→Long and plain timestamp[us]; declare the
    * file's actual schema (resolved by [[Tables.parquet]]), then
    * normalize `ts` exactly as [[Tables.events]] does. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = Tables.parquet(spark, s"$dir/events.parquet").schema
    Tables.normalizeTs(spark.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** Watermarked tumbling-window aggregation: 10-minute lateness bound,
    * 1-hour windows per event_type. Append mode emits a window only once
    * its watermark passes — the standard exactly-once windowed-agg shape. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermark-bounded exact dedup on event_id: state for an id is kept
    * only within the lateness horizon, so state size is bounded by the
    * watermark window — the streaming form of exact dedup at scale. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join (the streaming form of
    * [[graft.ops.TemporalOps.rangeJoinClicks]]): purchases match clicks
    * by the same user within ±5 minutes of event time. Both sides carry
    * a watermark and the join condition bounds event-time distance, so
    * each side's join state is dropped once the other side's watermark
    * passes the band — state stays O(band × rate), never O(stream).
    * Self-join on one source stream: Spark plans the two filtered reads
    * as one scan feeding both join legs. */
  def purchaseClickJoin(events: DataFrame, bandMinutes: Int = 5): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("c_user") === col("p_user") &&
      col("c_ts") >= col("p_ts") - expr(s"INTERVAL '$bandMinutes' MINUTE") &&
      col("c_ts") <= col("p_ts") + expr(s"INTERVAL '$bandMinutes' MINUTE"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("p_ts"), col("click_id"), col("c_ts"))
  }

  /** Built-in session-window aggregation: Spark's native
    * `session_window` (gap-closed event-time windows) — the declarative
    * sibling of [[sessionize]]. Same semantics (a session closes after
    * `gapMinutes` of inactivity; emitted once the watermark passes), but
    * the state handling is Catalyst's own session-window operator:
    * merging, GC, and RocksDB spill come for free, and the aggregation
    * stays inside codegen. Prefer this form whenever the per-session
    * output is expressible as an aggregate; drop to
    * flatMapGroupsWithState only for imperative per-event state. */
  def sessionWindowCounts(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      .select(col("user_id"), col("n_events"), col("total_value"),
        col("start_ts"), col("end_ts"))

  /** Custom keyed state: gap-based sessionization (30-minute inactivity
    * closes a session) via flatMapGroupsWithState with event-time
    * timeout. Emits one summary per closed session. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionSummary] = {
    // The inactivity gap must EXCEED the 10-minute lateness bound below:
    // the open session's timeout re-arms at end_ts + gap, and end_ts can
    // trail the watermark by up to the lateness (a late event as the
    // newest item), so gap <= lateness would hand setTimeoutTimestamp a
    // timestamp behind the watermark — an IllegalArgumentException in
    // the middle of a running stream, not at plan time. Fail here
    // instead, where the config is visible.
    require(gapMinutes > 10,
      s"sessionize: gapMinutes ($gapMinutes) must exceed the 10-minute " +
        "watermark lateness, or a late event could re-arm the open " +
        "session's timeout behind the watermark")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .withWatermark("ts", "10 minutes")
      .as[Event]

    def update(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionSummary]): Iterator[SessionSummary] = {
      val evs = batch.toSeq
      if (evs.isEmpty && state.hasTimedOut) {
        val out = state.getOption.toSeq
        state.remove()
        return out.iterator
      }
      // Interval merge over (batch events as singletons + the carried
      // open session), ordered by START. The previous left-fold extended
      // the carried session with any event within gap of its END — but a
      // cross-batch out-of-order event (late within the watermark, so
      // within-batch sorting never sees it) could sit BEHIND the carried
      // extent, where that rule rewound end_ts, or entirely before
      // start_ts - gap, where it belongs to a separate earlier session
      // yet was absorbed. The merge puts every item in event-time order,
      // so both cases fall out of the one gap rule.
      val gapMs = gapMinutes * 60000L
      val items = (evs.map(e => SessionSummary(userId, 1L, e.value, e.ts, e.ts))
          ++ state.getOption)
        .sortBy(s => (s.start_ts.getTime, s.end_ts.getTime))
      val merged = scala.collection.mutable.ArrayBuffer[SessionSummary]()
      for (s <- items) {
        if (merged.nonEmpty &&
            s.start_ts.getTime - merged.last.end_ts.getTime <= gapMs) {
          val last = merged.last
          merged(merged.length - 1) = last.copy(
            n_events = last.n_events + s.n_events,
            total_value = last.total_value + s.total_value,
            end_ts = if (s.end_ts.after(last.end_ts)) s.end_ts else last.end_ts)
        } else merged += s
      }
      // only the LATEST session stays open (single-open-session state —
      // the documented approximation of this imperative demo; the
      // declarative sibling session_window keeps every unexpired window
      // open); earlier ones close now
      val open = merged.last
      state.update(open)
      state.setTimeoutTimestamp(open.end_ts.getTime + gapMs)
      merged.init.iterator
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  final case class HllEstimate(event_type: String, est_users: Long)

  /** Rolling distinct users per event type via the mergeable
    * [[graft.functions.HllSketch]] held in keyed stream state: each
    * micro-batch REDUCES its user_ids into the group's persisted
    * registers and emits the updated estimate. This is the sketch's
    * production shape — state is m bytes per group FOREVER (not
    * O(users)), restarts recover it from the checkpoint, and because
    * merge is idempotent element-max, the streamed registers are
    * BIT-IDENTICAL to a batch sketch over the same rows no matter how
    * the stream was chunked (EventStreamsSpec pins exactly that).
    * Update mode: every batch re-emits the affected groups' estimates. */
  def streamingDistinctUsers(events: DataFrame, p: Int = 12): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val sk = graft.functions.HllSketch(p)
    val typed = events.select(col("event_type"), col("user_id"))
      .as[(String, Long)]

    def update(eventType: String, batch: Iterator[(String, Long)],
        state: GroupState[Array[Byte]]): HllEstimate = {
      val regs = batch.foldLeft(state.getOption.getOrElse(sk.zero)) {
        case (r, (_, uid)) => sk.reduce(r, uid)
      }
      state.update(regs)
      HllEstimate(eventType, sk.finish(regs))
    }

    typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  final case class HeavyHitter(event_type: String, user_id: Long,
      est_count: Long, rank: Int, batch_seq: Long)

  /** Rolling top-N heavy hitters per event type: a
    * [[graft.functions.CmsSketch]]-style count-min sketch held in keyed
    * stream state (the counting twin of [[streamingDistinctUsers]]),
    * plus a bounded candidate list — the space-saving compromise every
    * streaming heavy-hitter tracker makes, since a CMS can answer any
    * key but cannot enumerate them. Each micro-batch folds its keys
    * into the group's sketch (cell-wise addition ⇒ the state sketch is
    * BIT-IDENTICAL to a batch sketch of the same rows however the
    * stream was chunked), re-estimates the union of retained + newly
    * seen candidates against the updated sketch, keeps `candidateCap`
    * of them, and emits the current top `topN` tagged with a
    * monotonically increasing `batch_seq` so consumers (and the spec)
    * can identify the final emission per group.
    *
    * State is sketch + cap entries per group FOREVER — never O(keys).
    * `candidateCap` is the recall knob: a true heavy hitter absent from
    * a batch survives only if it sits within the cap (default 4·topN;
    * EventStreamsSpec runs an exhaustive cap for exact batch parity and
    * the default cap for the space bound). */
  def streamingHeavyHitters(events: DataFrame, topN: Int = 5,
      candidateCap: Int = 20, eps: Double = 0.005,
      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("event_type"), col("user_id"))
      .as[(String, Long)]

    def update(eventType: String, batch: Iterator[(String, Long)],
        state: GroupState[(Array[Byte], Map[Long, Long], Long)])
        : Iterator[HeavyHitter] = {
      val (skBytes, retained, seq) = state.getOption
        .getOrElse((Array.empty[Byte], Map.empty[Long, Long], 0L))
      val cms =
        if (skBytes.isEmpty) CountMinSketch.create(eps, confidence, seed)
        else CountMinSketch.readFrom(new java.io.ByteArrayInputStream(skBytes))
      val batchKeys = scala.collection.mutable.LinkedHashSet.empty[Long]
      batch.foreach { case (_, uid) => cms.add(uid); batchKeys += uid }
      val cands = (retained.keySet ++ batchKeys).toSeq
        .map(k => k -> cms.estimateCount(k))
        .sortBy { case (k, e) => (-e, k) }
        .take(candidateCap)
      val out = new java.io.ByteArrayOutputStream()
      cms.writeTo(out)
      state.update((out.toByteArray, cands.toMap, seq + 1))
      cands.take(topN).zipWithIndex.map { case ((k, e), i) =>
        HeavyHitter(eventType, k, e, i + 1, seq + 1)
      }.iterator
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }
}
