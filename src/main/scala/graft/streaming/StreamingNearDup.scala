package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING near-duplicate detection — the realtime-ingest form of
  * [[graft.llm.Dedup.dedupSimhash]]: every arriving document is checked
  * against everything already ingested, in one pass, with state that
  * lives in Spark's checkpointed state store (RocksDB on a cluster).
  *
  * Shape: per-row [[Dedup.simhash64]] signature (a pure projection, so
  * it runs before any stateful operator), then the SAME banding regime
  * as the batch path ([[Dedup.bandScheme]] — narrow disjoint bands at
  * small radii, wider multi-probe bands at maxDist ≥ 8), but the band
  * buckets are KEYED STREAM STATE instead of a self-join side:
  * `flatMapGroupsWithState` keyed by (band_id, band_val) holds the
  * (doc_id, sig) members of each bucket, and an arriving document emits
  * a pair for every stored member within Hamming ≤ maxDist before
  * joining the bucket itself. In the multi-probe regime an arrival also
  * PROBES the `width` single-bit-flip variants of each of its bands
  * (transient rows — only the exact band value is stored), mirroring
  * the batch probe side exactly. Any in-radius pair agrees within
  * distance ≤ 1 on ≥ 1 band (generalized pigeonhole), and either
  * orientation of the probe reaches the other side's stored exact
  * value, so recall equals the batch join's — StreamingNearDupSpec pins
  * stream == batch on the same corpus split across micro-batches, at
  * radii on both sides of the multi-probe boundary.
  *
  * Scale properties:
  *   - state is the standing index (the streaming analog of
  *     [[graft.llm.DedupIndex]]'s fold-in contract): O(corpus) total but
  *     hash-partitioned across executors by band key, ~16 bytes/doc/band;
  *     [[nearDupPairsWatermarked]] is the lateness-bounded sibling — an
  *     event-time timeout evicts buckets idle past the bound, so an
  *     unbounded ingest stream holds only the working window;
  *   - per arrival, work is O(bucket size), never O(corpus); hot buckets
  *     parallelize across bands (a doc's bands land on different keys);
  *   - a pair colliding in several bands is emitted once per colliding
  *     band by the raw operator; the watermarked pipeline suppresses the
  *     duplicates with `dropDuplicatesWithinWatermark` on (ida, idb)
  *     (exactly-once emission inside the lateness window), the standing
  *     form leaves `.distinct()` to the sink batch — same contract as
  *     the batch candidate stream before its final distinct.
  */
object StreamingNearDup extends Serializable {

  /** One banded row of an arriving document. `store=true` rows are the
    * doc's exact band values (joined into bucket state); `store=false`
    * rows are multi-probe single-bit-flip variants — they only LOOK. */
  final case class BandMember(band_id: Int, band_val: Long, doc_id: Long,
      sig: Long, store: Boolean)
  final case class TsBandMember(band_id: Int, band_val: Long, doc_id: Long,
      sig: Long, store: Boolean, ts: java.sql.Timestamp)
  final case class Bucket(ids: Seq[Long], sigs: Seq[Long])
  /** Watermarked-bucket state: member event times ride along (ms since
    * epoch, parallel to ids/sigs) so STALE MEMBERS of a still-hot
    * bucket can be pruned — bucket-level timeouts alone only evict
    * idle buckets, and a hot band bucket would otherwise pin every
    * member forever. */
  final case class TsBucket(ids: Seq[Long], sigs: Seq[Long], tss: Seq[Long])
  final case class DupPair(ida: Long, idb: Long, hamming: Int)
  final case class TsDupPair(ida: Long, idb: Long, hamming: Int,
      ts: java.sql.Timestamp)

  /** (doc_id, text) stream → per-row signature stream (doc_id, sig).
    * Token-less docs carry a null signature and are dropped here, same
    * as the batch signature frame. */
  def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .where(col("sig").isNotNull)

  /** Banded rows for a signature frame under the batch band scheme:
    * exact rows always; in the multi-probe regime, also the width
    * single-bit flips of every band (probe-only). Extra columns listed
    * in `carry` (e.g. the event-time column) ride along. */
  private def banded(sigs: DataFrame, maxDist: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val (nBands, width, multiProbe) = Dedup.bandScheme(maxDist)
    def bandVal(b: Int) =
      shiftrightunsigned(col("sig"), b * width).bitwiseAND((1L << width) - 1)
    val rows = (0 until nBands).flatMap { b =>
      val variants = if (multiProbe) 0 to width else Seq(0)
      variants.map { j =>
        struct(lit(b).as("band_id"),
          (if (j == 0) bandVal(b)
           else bandVal(b).bitwiseXOR(lit(1L << (j - 1)))).as("band_val"),
          lit(j == 0).as("store"))
      }
    }
    sigs.select((Seq(col("doc_id"), col("sig"),
        explode(array(rows: _*)).as("band")) ++ carry.map(col)): _*)
      .select((Seq(col("band.band_id"), col("band.band_val"), col("doc_id"),
        col("sig"), col("band.store")) ++ carry.map(col)): _*)
  }

  /** Compare a batch of arrivals against the bucket's stored members,
    * emitting in-radius pairs via `emit(arrivalId, storedId, dist)`;
    * arrivals process in doc_id order so a replayed micro-batch emits
    * identical pairs, and only exact (store=true) rows join the bucket. */
  private def probeAndStore(batch: Seq[BandMember], existing: Bucket,
      maxDist: Int, emit: (Long, Long, Int) => Unit): Bucket = {
    var ids = existing.ids.toList
    var sigl = existing.sigs.toList
    for (m <- batch.sortBy(b => (b.doc_id, !b.store))) {
      var i = ids
      var s = sigl
      while (i.nonEmpty) {
        if (i.head != m.doc_id) {
          val d = java.lang.Long.bitCount(s.head ^ m.sig)
          if (d <= maxDist) emit(m.doc_id, i.head, d)
        }
        i = i.tail
        s = s.tail
      }
      if (m.store) { ids ::= m.doc_id; sigl ::= m.sig }
    }
    Bucket(ids, sigl)
  }

  /** Signature stream → near-dup pair stream, standing-index form (no
    * eviction). `sigs` must have columns (doc_id: long, sig: long);
    * emits (ida < idb, hamming ≤ maxDist), once per colliding band. */
  def nearDupPairs(sigs: DataFrame, maxDist: Int = 3): Dataset[DupPair] = {
    val spark = sigs.sparkSession
    import spark.implicits._

    def update(key: (Int, Long), batch: Iterator[BandMember],
        state: GroupState[Bucket]): Iterator[DupPair] = {
      val out = scala.collection.mutable.ArrayBuffer[DupPair]()
      val next = probeAndStore(batch.toSeq,
        state.getOption.getOrElse(Bucket(Nil, Nil)), maxDist,
        (arrival, stored, d) => out += DupPair(math.min(arrival, stored),
          math.max(arrival, stored), d))
      state.update(next)
      out.iterator
    }

    banded(sigs, maxDist).as[BandMember]
      .groupByKey(m => (m.band_id, m.band_val))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Lateness-bounded sibling of [[nearDupPairs]] for UNBOUNDED ingest:
    * `sigs` must carry an event-time column `ts` already watermarked by
    * the caller; a band bucket whose newest member is older than the
    * watermark is EVICTED (event-time timeout), so state holds only the
    * working window instead of the whole corpus. Pairs carry the
    * arriving doc's event time so the caller can watermark the OUTPUT
    * and run `dropDuplicatesWithinWatermark` — see [[nearDupStreamWatermarked]]. */
  def nearDupPairsWatermarked(sigs: DataFrame, maxDist: Int = 3,
      latenessMs: Long = 600000L): Dataset[TsDupPair] = {
    val spark = sigs.sparkSession
    import spark.implicits._

    def update(key: (Int, Long), batch: Iterator[TsBandMember],
        state: GroupState[TsBucket]): Iterator[TsDupPair] = {
      if (state.hasTimedOut) {
        // idle past the lateness bound: every on-time arrival that could
        // still pair with these members has been processed — drop them
        state.remove()
        Iterator.empty
      } else {
        val rows = batch.toSeq
        val out = scala.collection.mutable.ArrayBuffer[TsDupPair]()
        val arrivalTs = rows.groupBy(_.doc_id)
          .map { case (id, rs) => id -> rs.head.ts.getTime }
        // per-MEMBER pruning: a member older than watermark − lateness
        // can no longer pair with any on-time arrival (its window has
        // closed), so it leaves state even though the bucket stays hot
        val wm = state.getCurrentWatermarkMs()
        val prev = state.getOption.getOrElse(TsBucket(Nil, Nil, Nil))
        val kept = prev.ids.lazyZip(prev.sigs).lazyZip(prev.tss)
          .filter((_, _, t) => t + latenessMs >= wm)
        val next = probeAndStore(
          rows.map(r => BandMember(r.band_id, r.band_val, r.doc_id, r.sig,
            r.store)),
          Bucket(kept.map(_._1), kept.map(_._2)), maxDist,
          // stamp the pair with the ARRIVING doc's event time (the row
          // that completed it) — on-time by definition, so the output
          // watermark never discards a just-found pair
          (arrival, stored, d) => out += TsDupPair(
            math.min(arrival, stored), math.max(arrival, stored), d,
            new java.sql.Timestamp(arrivalTs(arrival))))
        // member ts list reconstructed in lockstep with the (pruned +
        // newly stored) id list; each doc_id appears at most once per
        // bucket (one exact row per band per doc)
        val oldTs = prev.ids.zip(prev.tss).toMap
        val tss = next.ids.map(id => arrivalTs.getOrElse(id, oldTs(id)))
        state.update(TsBucket(next.ids, next.sigs, tss))
        // bucket-level timeout still covers the IDLE case: keep the
        // bucket until the watermark passes newest + lateness, after
        // which any arrival it could serve would be late-dropped anyway
        val newest = rows.map(_.ts.getTime).max
        state.setTimeoutTimestamp(math.max(newest + latenessMs,
          state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }

    banded(sigs, maxDist, carry = Seq("ts")).as[TsBandMember]
      .groupByKey(m => (m.band_id, m.band_val))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** (doc_id, text) stream → near-dup pair stream, end to end
    * (standing-index form). */
  def nearDupStream(docs: DataFrame, maxDist: Int = 3): Dataset[DupPair] =
    nearDupPairs(signatures(docs), maxDist)

  /** (doc_id, text, ts) stream → watermarked near-dup pipeline:
    * bounded state (buckets evict past `lateness`) AND exactly-once
    * pair emission within the lateness window — the per-band duplicate
    * emissions are suppressed by `dropDuplicatesWithinWatermark` on
    * (ida, idb), whose own dedup state also evicts with the watermark.
    * This is the form an unbounded 100 TB ingest stream runs. */
  def nearDupStreamWatermarked(docs: DataFrame, maxDist: Int = 3,
      lateness: String = "10 minutes", latenessMs: Long = 600000L): DataFrame = {
    // Spark's global-watermark pattern check rejects ANY
    // fMGWS → stateful chain, because fMGWS may emit arbitrary event
    // times that the downstream operator would discard as late. This
    // operator emits each pair stamped with the ARRIVING row's event
    // time — a row that just passed the same batch's watermark filter —
    // so no output row is ever late for the downstream dedup state; the
    // blanket check cannot see that invariant. The CALLER must start
    // the query with
    // `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    // (submit-time --conf, or scoped set/restore around start() as
    // StreamingNearDupSpec does) — this builder deliberately does NOT
    // flip the session conf itself: a sticky session-global opt-out
    // would silently disable the guard for every UNRELATED streaming
    // query started later in the same session.
    // watermark must sit on the fMGWS INPUT for EventTimeTimeout…
    val marked = docs.select(col("doc_id"), col("ts"),
        Dedup.simhash64(col("text")).as("sig"))
      .where(col("sig").isNotNull)
      .withWatermark("ts", lateness)
    nearDupPairsWatermarked(marked, maxDist, latenessMs)
      // …and on the OUTPUT for the dedup stage (event time rides each pair)
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("ida", "idb")
      .toDF()
  }

  /** The registered bounded query: stream the documents table through
    * the standing-index operator (memory sink, run to completion) and
    * return the distinct pair set — BY CONSTRUCTION equal to the batch
    * truth `dedup_simhash` computes on the same table
    * (StreamingNearDupSpec pins it), and therefore carrying the same
    * brute-Hamming DuckDB oracle ([[graft.llm.Dedup.dedupSimhashSql]]):
    * the stateful operator's full pair set hash-checks against SQL. */
  def streamingNearDupQuery(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame =
    // memoized like the other eager builders: plan screens and repeated
    // warm passes reuse one streaming run per (session, dir); cold
    // attribution (Caches.release before the pass) re-pays the stream
    graft.Caches.memo(spark, s"streaming_neardup:$dir:$maxDist") {
      val schema = graft.Tables.documents(spark, dir).schema
      // the file source wants a DIRECTORY; scope the listing to the one
      // table file with a glob filter
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), col("text"))
        // the [[graft.Tables.fanOut]] rationale, stream-side: the table
        // arrives as ONE parquet file → the micro-batch scans it as one
        // partition, and the per-doc simhash (the dominant per-row cost)
        // would run single-threaded — measured 22 s/batch at sf0.1 vs
        // ~2 s fanned. A 100 TB ingest arrives as many files and skips
        // this; the shuffle is one pass over the batch's raw text.
        .repartition(spark.sparkContext.defaultParallelism)
      // state partitioning sized to the data (scoped set/restore, the
      // StreamingNearDupSpec conf pattern): each state-store instance
      // pays a fixed per-commit cost, so instance count — not
      // parallelism — is the floor for a bounded table. r21 unifies
      // this with the watermarked query's rule: one store per ~250k
      // stored band members, floor 2 (5k docs × 4 bands = 20k → 2
      // here; an unbounded 100 TB ingest derives hundreds of stores).
      // Pair set is partitioning-invariant (per-bucket emission) and
      // re-verified oracle-green at both SFs.
      val nDocsQ = graft.Tables.documents(spark, dir).count()
      val widthQ = math.max(2L, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        (nDocsQ * Dedup.bandScheme(maxDist)._1 + 249999L) / 250000L)).toInt
      BoundedRun.collect(spark, "snd_q_", "append",
          Seq("spark.sql.shuffle.partitions" -> widthQ.toString),
          _.select(col("ida"), col("idb"), col("hamming")).distinct()) {
        nearDupStream(stream, maxDist).toDF()
      }
    }

  /** The registered WATERMARKED bounded query: the documents table fed
    * as `nChunks` event-time-ordered micro-batches (one file per
    * trigger) through [[nearDupStreamWatermarked]] — eviction and the
    * exactly-once output dedup EXERCISED, not just spec-pinned.
    *
    * Determinism that makes a DuckDB oracle possible:
    *   - event time is synthetic and data-derived: ts(doc) =
    *     doc_id · stepSec seconds (doc_ids are dense 0..n−1, so chunks
    *     of C = ⌈n/nChunks⌉ consecutive ids are ts-ordered batches);
    *   - the chunk files are a fileStamp-keyed derived artifact with
    *     modification times set to the chunk index, so
    *     FileStreamSource's oldest-first ordering replays the same
    *     batch sequence every run;
    *   - Spark's watermark before batch k is max(ts over batches < k)
    *     − delay = (k·C − 1)·step − D, and a stored member survives to
    *     pair with a batch-k arrival iff ts + L ≥ watermark (the
    *     per-member prune; the bucket timeout fires strictly later —
    *     its bound is the bucket's NEWEST member + L — so it never
    *     drops a member the prune would have kept). With the watermark
    *     floor at 0 and ts monotone in doc_id, the full emitted set
    *     has the closed form the oracle replays:
    *       hamming(a,b) ≤ maxDist AND
    *       ts_lo·1 + L + D + step ≥ (batch_hi·C)·step
    *     (same-batch pairs satisfy it trivially; batch-0 arrivals see
    *     watermark 0). [[streamingNearDupWatermarkedSql]] is exactly
    *     [[graft.llm.Dedup.dedupSimhashSql]] plus that predicate. */
  def streamingNearDupWatermarkedQuery(spark: SparkSession, dir: String,
      maxDist: Int = 3, nChunks: Int = 10, stepSec: Long = 60L,
      latenessSec: Long = 600L): DataFrame =
    graft.Caches.memo(spark,
        s"streaming_neardup_wm:$dir:$maxDist:$nChunks:$stepSec:$latenessSec") {
      // fan-out width sized to the BATCH, not the machine: each trigger
      // carries one C-doc chunk, and repartitioning a 50-doc batch to 32
      // partitions schedules 32 near-empty tasks per batch — at
      // nChunks=100 that task floor, not compute, was the wall
      // (SCALE_CURVE's c100 1× leg). ~32 docs of simhash per partition
      // keeps the per-batch compute parallel exactly as far as it pays.
      val nDocs = graft.Tables.documents(spark, dir).count()
      val chunkRows = (nDocs + nChunks - 1) / nChunks
      val fanWidth = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(2L, (chunkRows + 31L) / 32L)).toInt
      // r22: the fan-out moved from a per-batch round-robin exchange
      // (which shuffled every batch's raw TEXT — guide §2.3 — and cost a
      // stage per micro-batch, most of the measured ~0.55 s/batch
      // scheduling floor) into the FEED LAYOUT: each chunk is published
      // as `fanWidth` part files sharing one mtime, and
      // maxFilesPerTrigger = fanWidth makes every trigger consume
      // exactly one chunk (all parts of chunk i are strictly older than
      // chunk i+1's). The scan itself is then fanWidth-parallel — the
      // per-file open cost (spark.sql.files.openCostInBytes, 4 MB
      // default) keeps one file per scan split — so the per-doc simhash
      // (the dominant per-row cost, measured 22 s single-task vs ~2 s
      // fanned at sf0.1) parallelizes with ZERO per-batch exchange
      // before the band shuffle. Batch composition — and therefore the
      // watermark closed form the oracle replays — is unchanged.
      val chunkDir = wmChunkDir(spark, dir, nChunks, fanWidth)
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", fanWidth.toString)
        .parquet(chunkDir)
        .withColumn("ts", timestamp_seconds(col("doc_id") * stepSec))
      // scoped set/restore (the streamingNearDupQuery pattern): state
      // partitions sized TO THE STATE, not the machine — each
      // state-store instance pays a fixed per-commit cost (~100 ms/
      // partition/op in the r21 progress logs, dwarfing the actual
      // delta bytes at this corpus), so instance count is the per-batch
      // floor until per-store state is large enough to matter. Rule:
      // one store per ~250k stored band members (≈8 MB of (id, sig, ts)
      // entries per delta at steady state), floor 2 (so the operator
      // stays visibly partitioned), capped by the session's
      // parallelism. r21 measurement at sf0.1/c10 (cold, min-of-2):
      // width 8 → 10.0 s, 4 → 8.8 s, 2 → 7.4 s, pair set unchanged
      // (oracle-green); RocksDB provider + changelog checkpointing read
      // 12.4 s — per-batch store open/commit overhead exceeds the HDFS
      // provider's on tmpfs-small state, so it stays the cluster-scale
      // option only. The same rule at an unbounded 100 TB ingest
      // (billions of live members in the lateness window) derives
      // hundreds of stores — the parallelism a real state footprint
      // needs — instead of a constant tuned to either scale. The
      // r19 c100 leg measured the same direction (8→2 cut 76.8→56.7 s).
      // The global-watermark pattern check is disabled for the fMGWS →
      // dropDuplicates chain (see nearDupStreamWatermarked's doc for why
      // the blanket check cannot see this operator's on-time-output
      // invariant).
      val nBands = Dedup.bandScheme(maxDist)._1
      val stateWidth = math.max(2L, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        (nDocs * nBands + 249999L) / 250000L)).toInt
      BoundedRun.collect(spark, "snd_wm_", "append", Seq(
          "spark.sql.shuffle.partitions" -> stateWidth.toString,
          "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false",
          // TWO watermark nodes exist (input sigs + emitted pairs), and
          // the default multipleWatermarkPolicy=min takes the global
          // watermark from the LAGGING pair-side node — whose max event
          // time is the newest pair emitted so far, a data-dependent
          // value that would make eviction timing (and the oracle)
          // depend on which batches happened to emit pairs (measured:
          // 199 vs 193 pairs at sf0.01). Pair event times never exceed
          // input event times, so policy=max pins the global watermark
          // to the INPUT node exactly: wm before batch k =
          // maxTs(batches < k) − delay, the closed form the oracle
          // replays. No input row is ever late under it (ts is monotone
          // in doc_id across chunks).
          "spark.sql.streaming.multipleWatermarkPolicy" -> "max",
          // NO-DATA micro-batches off. MEASURED (r20, progress logs at
          // nChunks=20): under Trigger.AvailableNow this run schedules
          // exactly ONE trailing no-data batch after the last data batch
          // — not one per data batch as the r19 note assumed — so
          // disabling them saves a single batch's floor, not half the
          // run (the interleaved r20 A/B read no difference beyond host
          // noise; the r19 90.6→55.6 c100 cut came entirely from the
          // batch-sized fan-out/state width and checkpoint-retention
          // fixes). Kept OFF because it is still strictly correct here:
          // both operators emit only on ARRIVALS (fMGWS pairs a new doc
          // against stored members; dropDuplicatesWithinWatermark emits
          // first-seen immediately), so the trailing no-data batch could
          // only evict state the run is about to discard — the emitted
          // pair set is invariant (StreamingNearDupSpec pins it; the
          // c100 leg's 1,865-row truth is unchanged).
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
          // a scratch checkpoint retains nothing worth recovering:
          // keeping the default 100 batches of offset/commit/state
          // history makes every batch's log maintenance list-and-purge a
          // growing dir
          "spark.sql.streaming.minBatchesToRetain" -> "2"),
          _.select(col("ida"), col("idb"), col("hamming")).distinct()) {
        nearDupStreamWatermarked(stream, maxDist,
          s"$latenessSec seconds", latenessSec * 1000L)
      }
    }

  /** Dense-id chunk files for the watermarked feed: C consecutive
    * doc_ids per chunk, published as exactly `parts` parquet files per
    * chunk that share one modification time = publish base + chunk
    * index seconds (FileStreamSource orders by mtime; with
    * maxFilesPerTrigger = parts every trigger consumes exactly one
    * chunk's files, and the per-trigger scan is parts-parallel with no
    * fan-out exchange — the r22 layout). A [[graft.Published]] artifact
    * of the documents table; its marker is `_`-prefixed, so the file
    * stream reads the published dir as is. */
  private def wmChunkDir(spark: SparkSession, dir: String,
      nChunks: Int, parts: Int): String = {
    import org.apache.hadoop.fs.Path
    graft.Published.publish(spark, graft.Published.cachePath(spark, "snd_wm",
        dir, "documents.parquet", nChunks, s"p$parts")) { attempt =>
      val fs = new Path(attempt).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // the oracle's watermark formula needs maxTs(batch k−1) =
      // (k·C − 1)·step, i.e. DENSE ids 0..n−1 — fail loudly on a corpus
      // where chunk arithmetic and event-time order would silently split
      val (n, maxId) = {
        val r = docs.agg(count(lit(1)), max(col("doc_id"))).head()
        (r.getLong(0), r.getLong(1))
      }
      require(maxId == n - 1,
        s"watermarked feed needs dense doc_ids 0..n-1; n=$n maxId=$maxId")
      val c = (n + nChunks - 1) / nChunks
      for (i <- 0 until nChunks) {
        val w = new Path(s"$attempt/w_$i")
        val chunk = docs
          .filter(col("doc_id") >= i * c && col("doc_id") < (i + 1) * c)
        // round-robin into exactly `parts` write tasks (AQE never
        // coalesces an explicit repartition(n)); a chunk with fewer
        // rows than `parts` can leave trailing empty partitions with NO
        // file (Spark only writes the schema-only file for partition 0),
        // so pad to the exact per-chunk file count the trigger contract
        // needs
        chunk.repartition(parts).write.mode("overwrite").parquet(w.toString)
        var files = fs.listStatus(w).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        for (_ <- files.length until parts) {
          val pad = new Path(s"$attempt/w_${i}_pad")
          chunk.filter(lit(false)).coalesce(1)
            .write.mode("overwrite").parquet(pad.toString)
          val f = fs.listStatus(pad).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no pad file in $pad"))
          val dst = new Path(s"$w/pad_${java.util.UUID.randomUUID().toString.take(8)}.parquet")
          require(fs.rename(f, dst), s"pad rename failed under $w")
          fs.delete(pad, true)
          files :+= dst
        }
        require(files.length == parts,
          s"chunk $i published ${files.length} files, want exactly $parts " +
            "(the maxFilesPerTrigger batch contract)")
        files.zipWithIndex.foreach { case (part, j) =>
          val dst = new Path(f"$attempt/chunk_$i%02d_$j%02d.parquet")
          require(fs.rename(part, dst),
            s"rename failed for chunk $i part $j under $attempt")
          // mtime drives the file source's batch order; second-spaced so
          // filesystem mtime granularity can never alias two chunks —
          // all parts of one chunk share the chunk's mtime
          fs.setTimes(dst, 1000000000000L + i * 1000L, -1)
        }
        fs.delete(w, true)
      }
    }
  }

  /** Oracle twin of [[streamingNearDupWatermarkedQuery]]: the
    * brute-Hamming pair set ([[graft.llm.Dedup.dedupSimhashSql]])
    * filtered by the closed-form survival predicate derived in the
    * query's doc. `_PUBLISHED`/`chunk_*` mechanics don't appear —
    * batches are pure id arithmetic on the dense doc_id grid. */
  def streamingNearDupWatermarkedSql(spark: SparkSession, dir: String,
      maxDist: Int = 3, nChunks: Int = 10, stepSec: Long = 60L,
      latenessSec: Long = 600L): String = {
    val n = graft.Tables.documents(spark, dir).count()
    val c = (n + nChunks - 1) / nChunks
    val pairSql = graft.llm.Dedup.dedupSimhashSql(maxDist)
    // ts_lo + L + D + step >= batch_hi * C * step   (seconds; L = D)
    s"""WITH pairs AS (
       |${pairSql}
       |)
       |SELECT ida, idb, hamming FROM pairs
       |WHERE ida * ${stepSec} + ${2 * latenessSec + stepSec}
       |      >= (idb // ${c}) * ${c} * ${stepSec}""".stripMargin
  }
}
