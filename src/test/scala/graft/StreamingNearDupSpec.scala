package graft

import graft.llm.Dedup
import graft.streaming.StreamingNearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Drives the streaming near-dup operator from the documents table split
  * across micro-batches and pins stream truth == batch truth — at radii
  * on BOTH sides of the multi-probe banding boundary — plus the
  * watermarked pipeline's eviction and exactly-once contracts. */
class StreamingNearDupSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  test("per-row simhash64 equals the registered signature frame (token-less docs excluded on both sides)") {
    val fromCol = Tables.documents(spark, sf)
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
      .where(col("s").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val registered = Dedup.simhashSignatures(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromCol == registered && fromCol.nonEmpty)
  }

  test("simhash64 of a token-less document is null, not an all-ones signature") {
    val rows = spark.sql(
      "SELECT * FROM VALUES ('', 1), ('   ', 2), ('real text here', 3) t(text, id)")
      .select(col("id"), Dedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows(1).isEmpty && rows(2).isEmpty && rows(3).nonEmpty)
  }

  // radii 3 (narrow: 4 disjoint bands), 6 (narrow: 7 bands, width 9 —
  // 63 covered bits), 14 (multi-probe: 8 wide bands, ≤1 per band via
  // enumerated flips): the streaming operator must reproduce the batch
  // pair set exactly in every regime
  for (maxDist <- Seq(3, 6, 14))
    test(s"streamed near-dup pairs across micro-batches == batch dedup_simhash at maxDist=$maxDist") {
      val dir = tempDir("graft-snd").toString
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
      // three files -> three micro-batches with maxFilesPerTrigger=1, so
      // most pairs must be found against STATE from an earlier batch
      for (m <- 0 until 3)
        docs.filter(col("doc_id") % 3 === m)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/part=$m")
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/part=*")
      val name = s"snd_pairs_$maxDist"
      val q = StreamingNearDup.nearDupStream(stream, maxDist)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
      q.processAllAvailable()
      q.stop()
      // per-band emissions dedupe at the consumer (standing-form contract)
      val got = spark.table(name).select("ida", "idb")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Dedup.dedupSimhash(spark, sf, maxDist)
        .select("ida", "idb")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && want.nonEmpty)
      // the split guarantees cross-batch pairs exist (different residues
      // arrive in different micro-batches) — state is really consulted
      assert(want.exists { case (a, b) => a % 3 != b % 3 })
    }

  test("registered watermarked query == brute pairs under the closed-form survival predicate") {
    val got = StreamingNearDup.streamingNearDupWatermarkedQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = Dedup.dedupSimhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val n = Tables.documents(spark, sf).count()
    val c = (n + 9) / 10 // nChunks = 10, the registered default
    val step = 60L; val lateness = 600L
    // survival: ts_lo + L >= watermark(batch_hi) — see the query's doc
    val want = all.filter { case (ida, idb, _) =>
      ida * step + 2 * lateness + step >= (idb / c) * c * step
    }
    assert(got == want, s"missing ${want -- got}; spurious ${got -- want}")
    assert(got.nonEmpty)
    // every emitted pair is a true near-dup; and the watermark must have
    // actually evicted something, or the test (and the registered query)
    // would be indistinguishable from the unwatermarked form
    assert(got.subsetOf(all))
    assert(got != all, "no pair was evicted: the predicate is vacuous at this SF")
  }

  test("watermarked pipeline: exactly-once pair emission and eviction of expired band state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF.toDF("doc_id", "text", "ts")
    val name = "snd_wm"
    // the fMGWS → dedup chain needs the blanket correctness check off
    // AT START TIME; scope the opt-out so the shared session keeps the
    // guard for every other streaming test
    val ccKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val ccPrev = spark.conf.getOption(ccKey)
    spark.conf.set(ccKey, "false")
    val q =
      try StreamingNearDup
        .nearDupStreamWatermarked(docs, maxDist = 3,
          lateness = "10 minutes", latenessMs = 600000L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      finally ccPrev match {
        case Some(v) => spark.conf.set(ccKey, v)
        case None => spark.conf.unset(ccKey)
      }
    // identical text ⇒ identical signature ⇒ the pair collides in ALL
    // 4 bands — the raw operator would emit it 4×; the pipeline must not
    val text = "the exact same document text arrives again and again"
    mem.addData((1L, text, ts("10:00")), (2L, text, ts("10:00")))
    q.processAllAvailable()
    // doc 3 at 11:00: watermark is still 09:50 (10:00 − 10 min), so the
    // 10:00 buckets are live and doc 3 pairs with both
    mem.addData((3L, text, ts("11:00")))
    q.processAllAvailable()
    // after that batch the watermark reaches 10:50 > 10:00 + lateness —
    // docs 1/2's band buckets time out and are REMOVED; doc 4 at 11:05
    // may pair only with the surviving doc 3 (its timeout is 11:10)
    mem.addData((4L, text, ts("11:05")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly-once: no pair appears twice despite 4-band collisions
    assert(rows.size == rows.toSet.size,
      s"duplicate pair emissions: $rows")
    assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)),
      s"got $rows — (1,4)/(2,4) present means expired state was NOT evicted")
  }

  test("registered streaming_neardup query == batch dedup_simhash pair set") {
    val got = StreamingNearDup.streamingNearDupQuery(spark, sf)
      .select("ida", "idb", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Dedup.dedupSimhash(spark, sf)
      .select("ida", "idb", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && want.nonEmpty)
  }
}
