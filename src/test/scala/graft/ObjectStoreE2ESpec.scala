package graft

import graft.ingest.{ChunkFeeder, ObjectStoreFileSystem}
import graft.ops.Patterns
import graft.state.JdbcUpsertStore
import graft.streaming.MicroBatchRunner
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's transport is an object store (mechanism_x.py:48,
  * 80-82; "Mechanism Y.py":100-105,277). This suite runs the WHOLE
  * pipeline — executor-written chunk feed → file-stream source →
  * streaming checkpoint → detection sink — against
  * [[ObjectStoreFileSystem]], a Hadoop FileSystem with S3's contract
  * (flat keys, whole-object visibility on close, per-object
  * copy+delete rename, marker-only empty dirs), plus unit legs pinning
  * exactly those contract points. A zero-egress container has no MinIO
  * and no hadoop-aws jar (the S3AFileSystem class itself is absent), so
  * this is the honest way to prove the engine never leans on a POSIX
  * behavior an object store won't give it; on a cluster the same code
  * takes s3a:// URIs unchanged. */
class ObjectStoreE2ESpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fsFor(p: String) = new Path(p).getFileSystem(hconf)

  /** Same 10-column reference transaction shape as StreamingSpec. */
  private def refTx(): DataFrame =
    Tables.transactions(spark, sf).select(
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

  test("s3g contract: whole-object visibility, marker dirs, prefix listing") {
    ObjectStoreFileSystem.clearBucket("contract")
    val fs = fsFor("s3g://contract/")
    // a writer's bytes are invisible until close() — S3 PUT semantics
    val p = new Path("s3g://contract/a/b/obj.txt")
    val out = fs.create(p, true)
    out.write("hello object".getBytes(StandardCharsets.UTF_8))
    assert(!fs.exists(p), "object visible before close() — not S3 semantics")
    out.close()
    assert(fs.exists(p) && fs.getFileStatus(p).getLen == 12L)
    // directories are synthesized from key prefixes…
    assert(fs.getFileStatus(new Path("s3g://contract/a")).isDirectory)
    assert(fs.listStatus(new Path("s3g://contract/a")).map(_.getPath.getName)
      .toSeq == Seq("b"))
    // …an empty dir exists only via an explicit marker (s3a's empty-dir
    // object), and vanishes from nowhere otherwise
    intercept[java.io.FileNotFoundException] {
      fs.getFileStatus(new Path("s3g://contract/nothing/here"))
    }
    fs.mkdirs(new Path("s3g://contract/empty"))
    assert(fs.getFileStatus(new Path("s3g://contract/empty")).isDirectory)
    // read-after-write is strong and positioned reads work
    val in = fs.open(p)
    val buf = new Array[Byte](6)
    in.readFully(6L, buf)
    assert(new String(buf, StandardCharsets.UTF_8) == "object")
    in.close()
  }

  test("s3g contract: rename is per-object copy+delete, refuses existing destinations") {
    ObjectStoreFileSystem.clearBucket("ren")
    val fs = fsFor("s3g://ren/")
    def put(k: String, s: String): Unit = {
      val o = fs.create(new Path(s"s3g://ren/$k"), true)
      o.write(s.getBytes(StandardCharsets.UTF_8)); o.close()
    }
    put("src/x.csv", "xx"); put("src/y.csv", "yy"); put("other.txt", "oo")
    // dir rename moves every key under the prefix
    assert(fs.rename(new Path("s3g://ren/src"), new Path("s3g://ren/dst")))
    assert(fs.exists(new Path("s3g://ren/dst/x.csv")) &&
      fs.exists(new Path("s3g://ren/dst/y.csv")) &&
      !fs.exists(new Path("s3g://ren/src/x.csv")))
    // rename onto an existing OBJECT refuses (the no-overwrite contract
    // ChunkFeeder/OrcSource's publish races rely on)
    put("a.txt", "a")
    assert(!fs.rename(new Path("s3g://ren/a.txt"), new Path("s3g://ren/other.txt")))
    assert(fs.exists(new Path("s3g://ren/a.txt")), "failed rename must not delete src")
    // rename INTO an existing directory moves the file under it
    assert(fs.rename(new Path("s3g://ren/a.txt"), new Path("s3g://ren/dst")))
    assert(fs.exists(new Path("s3g://ren/dst/a.txt")))
  }

  test("s3g contract: rename refuses self/own-subtree and same-named dir merges") {
    ObjectStoreFileSystem.clearBucket("ren2")
    val fs = fsFor("s3g://ren2/")
    def put(k: String, s: String): Unit = {
      val o = fs.create(new Path(s"s3g://ren2/$k"), true)
      o.write(s.getBytes(StandardCharsets.UTF_8)); o.close()
    }
    put("d/one.csv", "1"); put("d/sub/two.csv", "2")
    // rename(d, d): the into-directory retarget would have relocated the
    // tree to d/d — must refuse and leave everything untouched
    assert(!fs.rename(new Path("s3g://ren2/d"), new Path("s3g://ren2/d")))
    assert(fs.exists(new Path("s3g://ren2/d/one.csv")) &&
      fs.exists(new Path("s3g://ren2/d/sub/two.csv")),
      "self-rename must be a refused no-op, not a relocation under itself")
    // rename into the source's own subtree: HDFS refuses
    assert(!fs.rename(new Path("s3g://ren2/d"), new Path("s3g://ren2/d/nested")))
    assert(fs.exists(new Path("s3g://ren2/d/one.csv")))
    // rename into a directory that already holds a same-named DIRECTORY:
    // a silent merge would let stale keys under dst survive a caller's
    // replace-by-rename — must refuse instead
    put("out/d/stale.csv", "STALE")
    assert(!fs.rename(new Path("s3g://ren2/d"), new Path("s3g://ren2/out")))
    assert(fs.exists(new Path("s3g://ren2/d/one.csv")) &&
      fs.exists(new Path("s3g://ren2/out/d/stale.csv")),
      "refused rename must leave both trees untouched")
  }

  test("s3g contract: create refuses a path that is a directory") {
    ObjectStoreFileSystem.clearBucket("mkd")
    val fs = fsFor("s3g://mkd/")
    val o = fs.create(new Path("s3g://mkd/tree/leaf.txt"), true)
    o.write("x".getBytes(StandardCharsets.UTF_8)); o.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fs.create(new Path("s3g://mkd/tree"), true) // implied dir (has children)
    }
    fs.mkdirs(new Path("s3g://mkd/markerdir"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fs.create(new Path("s3g://mkd/markerdir"), true) // marker dir
    }
  }

  test("driver-side feed uploads chunks to the object store (the reference's boto3 shape)") {
    ObjectStoreFileSystem.clearBucket("driverfeed")
    val n = ChunkFeeder.feed(refTx().limit(2500), "s3g://driverfeed/landing",
      chunkSize = 1000)
    assert(n == 3)
    val fs = fsFor("s3g://driverfeed/")
    val names = fs.listStatus(new Path("s3g://driverfeed/landing"))
      .map(_.getPath.getName)
    assert(names.length == 3 && names.forall(_.matches(
      "transactions_chunk_\\d{8}_\\d{6}_[0-9a-f]{8}_part\\d{5}\\.csv")))
    assert(names.forall(!_.endsWith(".tmp")))
    // the uploaded objects are valid CSV with the full header
    val back = spark.read.option("header", "true")
      .csv("s3g://driverfeed/landing")
    assert(back.count() == 2500 && back.columns.length == 10)
  }

  test("object-store e2e: executor feed → stream → checkpoint → detection sink, all over s3g://") {
    ObjectStoreFileSystem.clearBucket("pipeline")
    val inDir = "s3g://pipeline/landing"
    val outDir = "s3g://pipeline/detections"
    val cp = "s3g://pipeline/checkpoint"
    val local = tempDir("graft-s3g").toString
    val store = JdbcUpsertStore.derby(s"$local/derby")
    try {
      val tx = refTx().cache()
      val half = tx.limit((tx.count() / 2).toInt)

      // leg 1: executor-written chunks land as objects; the stream
      // consumes them with its checkpoint also on the object store
      val nChunks = ChunkFeeder.feedDistributed(half, inDir, chunkSize = 1000)
      val fs = fsFor(inDir)
      val chunkFiles = fs.listStatus(new Path(inDir)).map(_.getPath.getName)
      assert(chunkFiles.length == nChunks &&
        chunkFiles.forall(_.matches(
          "transactions_chunk_\\d{8}_\\d{6}_[0-9a-f]{8}_part\\d{5}\\.csv")))
      assert(chunkFiles.forall(!_.endsWith(".tmp")),
        "write-then-rename leaked a temp object into the watched prefix")

      val runner1 = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        outDir, clock = () => Patterns.FixedClock)
      val q1 = runner1.start(inDir, cp, triggerInterval = "1 second")
      q1.processAllAvailable(); q1.stop()
      runner1.flushRemainder()
      val afterFirst = store.merchantSummary(spark)
        .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
      assert(afterFirst == half.count())
      val preDirs = fs.listStatus(new Path(outDir)).filter(_.isDirectory)
        .map(d => d.getPath.getName ->
          spark.read.option("header", "true").csv(d.getPath.toString).count())
        .toMap
      assert(preDirs.nonEmpty, "no detection output objects were published")
      assert(preDirs.keySet.forall(_.matches("detections_batch_\\d+_[0-9a-f]{8}")))

      // leg 2: checkpoint restart — a NEW runner resumes from the s3g
      // checkpoint, consumes only the new chunks, clobbers nothing
      ChunkFeeder.feedDistributed(tx, inDir, chunkSize = 1000)
      val runner2 = new MicroBatchRunner(spark, store, Tables.importance(spark, sf),
        outDir, clock = () => Patterns.FixedClock)
      val q2 = runner2.start(inDir, cp, triggerInterval = "1 second")
      q2.processAllAvailable(); q2.stop()
      runner2.flushRemainder()
      val afterSecond = store.merchantSummary(spark)
        .agg(sum(col("total_transactions"))).collect()(0).getLong(0)
      assert(afterSecond == afterFirst + tx.count(),
        "restart reprocessed or skipped chunks (seen-file log on s3g broken)")
      val postDirs = fs.listStatus(new Path(outDir)).filter(_.isDirectory)
        .map(d => d.getPath.getName ->
          spark.read.option("header", "true").csv(d.getPath.toString).count())
        .toMap
      for ((name, n) <- preDirs)
        assert(postDirs.get(name).contains(n), s"pre-restart $name clobbered")
      assert(postDirs.size > preDirs.size)

      // the detection objects honor the reference contract end to end
      val all = spark.read.option("header", "true")
        .csv(postDirs.keySet.map(d => s"$outDir/$d").toSeq: _*)
      assert(all.columns.toSeq == MicroBatchRunner.detectionSchema.fieldNames.toSeq)
      assert(all.count() > 0)
    } finally store.close()
  }
}
