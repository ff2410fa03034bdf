package graft

import graft.scale.ScaleTechniques
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleTechniquesSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse dir persists; clear the leftover location too
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (loc.exists())
      scala.reflect.io.Directory(loc).deleteRecursively()
  }

  test("bucketed tables join without a shuffle exchange") {
    dropTable("li_bucketed")
    dropTable("o_bucketed")
    ScaleTechniques.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice"),
      "li_bucketed", "l_orderkey")
    ScaleTechniques.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
      "o_bucketed", "o_orderkey")
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    joined.count() // materialize so AQE finalizes the plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    // sanity: same result as the plain join
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
    assert(joined.count() == plain.count())
  }

  test("partitioned layout prunes directories at planning time") {
    val base = tempDir("graft-part").toString
    ScaleTechniques.writePartitioned(
      Tables.events(spark, sf).select("event_id", "user_id", "event_type"),
      s"$base/events_by_type", "event_type")
    val pruned = spark.read.parquet(s"$base/events_by_type")
      .filter(col("event_type") === "purchase")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("purchase"),
      s"expected a partition filter in:\n$plan")
    // the pruned read sees exactly the partition's rows
    val want = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(pruned.count() == want)
  }

  test("skew report surfaces a planted hot key with its true share") {
    import spark.implicits._
    // one key owns half the rows, the rest spread over 100 keys
    val df = ((1 to 5000).map(_ => "hot") ++ (1 to 5000).map(i => s"k${i % 100}"))
      .toDF("key")
    val top = ScaleTechniques.skewReport(df, col("key"), topN = 3).collect()
    assert(top.head.getString(0) == "hot")
    assert(top.head.getLong(1) == 5000L)
    assert(math.abs(top.head.getDouble(2) - 0.5) < 1e-9)
    // partition sizes account for every row
    val sizes = ScaleTechniques.partitionSizes(df).collect()
    assert(sizes.map(_.getLong(1)).sum == 10000L)
  }

  test("z-order layout skips files on the non-leading dimension; rows survive") {
    val base = tempDir("graft-zorder").toString
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    // z-order on (partkey, suppkey) vs a linear sort on partkey only
    ScaleTechniques.zorderWrite(li, "l_partkey", "l_suppkey", s"$base/z", 16)
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.parquet(s"$base/linear")
    assert(spark.read.parquet(s"$base/z").count() == li.count())
    // per-file (min,max) of the SECOND dimension: how many files does a
    // narrow suppkey predicate have to open?
    val Array(skLo, skHi) = li.agg(min("l_suppkey"), max("l_suppkey"))
      .head() match { case r => Array(r.getLong(0), r.getLong(1)) }
    val lo = skLo + (skHi - skLo) / 3
    val hi = lo + math.max((skHi - skLo) / 8, 1L)
    def touched(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_suppkey").as("mn"), max("l_suppkey").as("mx"))
        .filter(col("mn") <= hi && col("mx") >= lo)
        .count()
    val (zTouched, linTouched) = (touched(s"$base/z"), touched(s"$base/linear"))
    // linear layout scatters suppkey across every partkey-sorted file;
    // z-order clusters it, so the same predicate opens strictly fewer
    assert(zTouched < linTouched,
      s"z-order touched $zTouched files, linear $linTouched — no skipping win")
  }

  test("runtime bloom filter is injected into the probe side and preserves the join result") {
    // selective dim (1 of 25 customers by segment+comment filter) joined
    // to the fact table — the shape where pre-shuffle pruning pays
    val fact = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val dim = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 25 === 0)
      .select("c_custkey")
    def join() = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      .select("o_orderkey", "o_custkey")
    val plain = join().collect().map(_.toSeq).toSet
    assert(plain.nonEmpty)
    ScaleTechniques.withRuntimeBloomFilter(spark) {
      val df = join()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no bloom probe injected:\n$optimized")
      assert(optimized.contains("bloom_filter_agg"),
        s"no bloom creation side:\n$optimized")
      assert(df.collect().map(_.toSeq).toSet == plain)
    }
  }

  test("fanOut is a no-op when the scan already has enough partitions") {
    val target = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).repartition(target + 4).toDF("n")
    assert(Tables.fanOut(wide) eq wide) // no second shuffle injected
    val narrow = spark.range(1000).coalesce(1).toDF("n")
    assert(narrow.rdd.getNumPartitions == 1)
    assert(Tables.fanOut(narrow).rdd.getNumPartitions == target)
  }

  test("compaction planner packs within the FFD bound and loses no file") {
    import graft.scale.Compaction
    val files = (1 to 100).map(i => (f"f$i%03d", (i * 37 % 90 + 10) * 1024L))
    val bins = Compaction.planBins(files, 256 * 1024L)
    // every file appears exactly once
    assert(bins.flatten.sorted == files.map(_._1).sorted)
    // no bin over target (no file exceeds it here)
    val sizes = files.toMap
    assert(bins.forall(_.map(sizes).sum <= 256 * 1024L))
    // FFD bound: ≤ 11/9·OPT + 1 with OPT ≥ ceil(total/target)
    val opt = math.ceil(files.map(_._2).sum / (256.0 * 1024)).toInt
    assert(bins.size <= (11 * opt) / 9 + 1)
    // oversized files get singleton bins, unsplit
    val big = Compaction.planBins(Seq(("huge", 10L << 20), ("s", 1024L)), 1L << 20)
    assert(big.contains(Seq("huge")))
    // deterministic
    assert(Compaction.planBins(files.reverse, 256 * 1024L) == bins)
  }

  test("compact merges a fragmented table with row parity") {
    import graft.scale.Compaction
    val dir = tempDir("graft_compact").toString
    // fragment: 24 tiny files
    Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .repartition(24).write.mode("overwrite").parquet(s"$dir/in")
    val before = Compaction.listParquet(spark, s"$dir/in")
    assert(before.size == 24)
    val target = before.map(_._2).sum / 4 // aim for ~4-5 output files
    val (nIn, nOut) = Compaction.compact(spark, s"$dir/in", s"$dir/out", target)
    assert(nIn == 24 && nOut < 10)
    val in = spark.read.parquet(s"$dir/in")
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == in.count())
    assert(out.agg(sum("l_quantity")).head().getDouble(0)
      == in.agg(sum("l_quantity")).head().getDouble(0))
    // each bin directory holds exactly one data file
    val outFiles = (0 until nOut).map(i =>
      Compaction.listParquet(spark, f"$dir/out/bin=$i%05d"))
    assert(outFiles.forall(_.size == 1))
  }

  test("partition-recursive compaction preserves rows and partition columns") {
    import graft.scale.Compaction
    val dir = tempDir("graft_compact_part").toString
    // fragment a hive-partitioned table: 6 appends × 4 files per partition
    val src = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"),
        pmod(col("l_orderkey"), lit(3)).as("pfx"))
    (1 to 6).foreach { _ =>
      src.repartition(4).write.mode("append")
        .partitionBy("pfx").parquet(s"$dir/in")
    }
    val leaves = Compaction.leafDirs(spark, s"$dir/in")
    assert(leaves == Seq("pfx=0", "pfx=1", "pfx=2"))
    val before = leaves.map(l =>
      Compaction.listParquet(spark, s"$dir/in/$l").size).sum
    assert(before == 72)
    val target = leaves.map(l => Compaction.listParquet(spark, s"$dir/in/$l")
      .map(_._2).sum).max // one bin per partition
    val (nIn, nOut) = Compaction.compactPartitioned(
      spark, s"$dir/in", s"$dir/out", target)
    assert(nIn == 72 && nOut == 3)
    // same hive layout discovered on read: pfx is a partition column again
    assert(Compaction.leafDirs(spark, s"$dir/out") == leaves)
    val in = spark.read.parquet(s"$dir/in")
    val out = spark.read.parquet(s"$dir/out")
    assert(out.schema.fieldNames.sorted.toSeq == in.schema.fieldNames.sorted.toSeq)
    assert(out.exceptAll(in).isEmpty && in.exceptAll(out).isEmpty)
    // no staging or bin= dirs leaked into the output
    val stray = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.getName.startsWith(".tmp") || f.getName.startsWith("bin="))
    assert(stray.isEmpty)
    // RE-compaction into the same outDir must REPLACE same-index parts,
    // not silently keep stale ones: FileSystem.rename returns FALSE (no
    // exception) when dst exists, and the unchecked pre-fix rename left
    // the old part live while the staging delete dropped the fresh one
    src.limit(100).write.mode("append").partitionBy("pfx")
      .parquet(s"$dir/in")
    Compaction.compactPartitioned(spark, s"$dir/in", s"$dir/out", target)
    assert(spark.read.parquet(s"$dir/out").count()
      == spark.read.parquet(s"$dir/in").count())
    // fail fast: a corrupt input file surfaces the error promptly
    val badDir = new java.io.File(s"$dir/bad"); badDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/bad/garbage.parquet"),
      "this is not parquet".getBytes)
    intercept[Throwable] {
      Compaction.compact(spark, s"$dir/bad", s"$dir/out2", 1L << 20)
    }
    ()
  }

  test("bloom_join registered query arms the runtime filter on a cloned session") {
    val before = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled")
    val df = ScaleTechniques.bloomJoinQuery(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain"), s"no bloom probe injected:\n$optimized")
    assert(optimized.contains("bloom_filter_agg"), s"no bloom creation side:\n$optimized")
    assert(df.count() > 0)
    // the shared session's conf must be untouched by the clone
    assert(spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled") == before)
  }

  test("bloom_join reuses its armed session: a second call compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    ScaleTechniques.bloomJoinQuery(spark, sf).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ScaleTechniques.bloomJoinQuery(spark, sf).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes compiled on the second call")
  }

  test("salted aggregation equals plain aggregation") {
    val got = ScaleTechniques.saltedCountSum(
        Tables.lineitem(spark, sf), col("l_suppkey"), col("l_quantity"))
      .withColumn("sum_v", round(col("sum_v"), 4))
    val want = Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey").as("k"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("sum_v"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("CMS join-cardinality estimate never under-predicts and stays tight") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val o = Tables.orders(spark, sf).select(col("o_orderkey"))
    val exact = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    val est = ScaleTechniques.joinCardinalityEstimate(
      li, "l_orderkey", o, "o_orderkey")
    // one-sided: the pre-flight guard must never say "safe" about a
    // join that is bigger than predicted
    assert(est >= exact, s"est $est under-predicts exact $exact")
    // and with eps=1e-4 on these key counts the estimate is tight
    assert(est <= (exact * 1.05).toLong + 1, s"est $est vs exact $exact")
  }

  test("CMS join-cardinality estimate is 0 on an empty probe side") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val empty = Tables.orders(spark, sf).select(col("o_orderkey"))
      .filter(col("o_orderkey") < 0)
    // Dataset.reduce used to throw UnsupportedOperationException here
    // (no partial results on an empty distinct-key set)
    assert(ScaleTechniques.joinCardinalityEstimate(
      li, "l_orderkey", empty, "o_orderkey") == 0L)
  }

  test("CMS join-cardinality estimate tolerates null probe keys") {
    import org.apache.spark.sql.types.LongType
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey")).limit(100)
    // a probe side whose key column carries nulls: null keys never join,
    // and they used to NPE the non-nullable Long decode of the key set
    val withNulls = Tables.orders(spark, sf)
      .select(when(col("o_orderkey") % 2 === 0, col("o_orderkey"))
        .otherwise(lit(null).cast(LongType)).as("o_orderkey"))
      .limit(200)
    val est = ScaleTechniques.joinCardinalityEstimate(
      li, "l_orderkey", withNulls, "o_orderkey")
    assert(est >= 0L) // completes without throwing; nulls contribute 0
  }
}
