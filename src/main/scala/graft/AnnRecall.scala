package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ANN ladder recall/latency artifact generator: measures recall@k of
  * every approximate similarity rung against the brute-force truth
  * (`similarity_topk`), plus warm/cold per-query wall time, and writes
  * one JSON line to `SPARK_GRAFT_ANN_OUT` (default ANN_RECALL.json).
  * The BASELINE.md "ANN ladder" table is generated from this artifact,
  * so the ladder's quality trade-offs are committed numbers, not
  * spec-buried assertions (LlmOpsSpec still enforces the recall floors
  * per rung — this records the actual values).
  *
  * Timing mirrors [[Bench]] exactly: full-output materialization via
  * `queryExecution.toRdd`, min-of-2 passes, cold = `Caches.release`
  * before every pass (so index/codebook build cost is attributed),
  * warm = session caches retained.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_ANN_OUT", "ANN_RECALL.json")
    val spark = GraftSession()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count() // untimed IO warmup

    import graft.llm.Vectors
    // the sizing/promotion rules' own pick for THIS corpus, printed and
    // embedded in the artifact beside the fixed-knob ladder rungs (pq /
    // pq_idx / ivf / ivfpq keep deliberately pinned compact knobs as
    // ladder references — the scaladoc fences them): a reader of either
    // the stdout ladder or the committed JSON sees what the engine
    // would actually serve with at this corpus size next to what the
    // fixed rungs measured (the `rule` field and the RULE line)
    val nVec = Vectors.nVectors(spark, sfDir)
    val rCells = Vectors.scaledCells(nVec)
    val rTs = Vectors.trainSampleFor(rCells)
    val (rM, rC, rR) = Vectors.scaledPqKnobs(nVec, dim = 64)
    val rProbe = Vectors.promotedProbe(spark, sfDir, rCells, rTs)
    val ruleJson = s""""rule":{"n":$nVec,"cells":$rCells,"m":$rM,""" +
      s""""codes":$rC,"refine":$rR,"probe":${
        if (rProbe == Int.MaxValue) "\"all\"" else rProbe.toString},""" +
      s""""serving_rungs":["ivf_serving","ivf_idx_scaled",""" +
      s""""ivfpq_serving","ivfpq_idx_scaled"]}"""
    println(s"RULE n=$nVec cells=$rCells m=$rM c=$rC r=$rR " +
      s"p=$rProbe (fixed-knob rungs pq/pq_idx/ivf/ivfpq are ladder " +
      "references; serve from the *_serving/*_idx_scaled rungs)")
    // registered defaults PLUS one tuned config per approximate rung, so
    // the artifact records the knob each rung trades recall with (IVF:
    // cells probed; PQ: exact-refine window)
    val rungs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "brute" -> (Vectors.simTopK(_, _)),
      // registered default probes every cell (recall 1.0 — the honest
      // serving config on this corpus, and what makes the rung
      // oracle-able); probe4/probe8 record the partial-probe tradeoff
      "ivf" -> (Vectors.simTopKIvf(_, _)),
      "ivf_probe4" -> ((s, d) => Vectors.simTopKIvf(s, d, nProbe = 4)),
      "ivf_probe8" -> ((s, d) => Vectors.simTopKIvf(s, d, nProbe = 8)),
      // the clustered-corpus serving shape: cells ≈ cluster count, a
      // few probed — on the mixture-of-gaussians fixture
      // (tools/gen_clustered.py) these hold recall ≥0.95 at a fraction
      // of the scan; on the isotropic testdata they document the same
      // honest recall loss the 16-cell partial probes show
      "ivf_c64_p4" -> ((s, d) => Vectors.simTopKIvf(s, d, nCells = 64, nProbe = 4)),
      "ivf_c64_p8" -> ((s, d) => Vectors.simTopKIvf(s, d, nCells = 64, nProbe = 8)),
      // plain IVF under the serving rules (scaled cells, probe promoted
      // from the corpus's own assignment tightness): probe-all ⇒ brute
      // on isotropic corpora, partial probe exactly where the geometry
      // pays for it
      "ivf_serving" -> (Vectors.simTopKIvfServing(_, _)),
      // the persisted rule-driven plain-IVF index (the registered
      // similarity_topk_ivf_idx since r20): same rules, assignment
      // precomputed and partitioned by cell — cold attributes the
      // build, warm is the build-once/probe-many serving cost
      "ivf_idx_scaled" -> (Vectors.ivfIndexTopKScaled(_, _)),
      "sq8" -> (Vectors.simTopKSq8(_, _)),
      "pq" -> (Vectors.simTopKPq(_, _)),
      "pq_refine32" -> ((s, d) => Vectors.simTopKPq(s, d, refine = 32)),
      "pq_idx" -> (Vectors.pqIndexTopK(_, _)),
      // residual IVF-PQ: quantizes v − centroid(cell), so the codebook
      // spends its resolution on within-cluster structure — the rung
      // that recovers the clustered corpus vanilla PQ collapses on
      "ivfpq" -> (Vectors.simTopKIvfPq(_, _)),
      "ivfpq_probe4" -> ((s, d) => Vectors.simTopKIvfPq(s, d, nProbe = 4)),
      // the fixed-compact-knob persisted index (explicit-knob API): the
      // r18 rung whose 0.1 recall on clustered-200k motivated making
      // the REGISTERED persisted path rule-driven
      "ivfpq_idx" -> (Vectors.ivfPqIndexTopK(_, _)),
      // the rule-driven persisted index (the registered
      // similarity_topk_ivfpq_idx since r19): derives cells/m/nCodes/
      // refine/nProbe from the same sizing + promotion rules as the
      // inline serving path, keyed into the index path
      "ivfpq_idx_scaled" -> (Vectors.ivfPqIndexTopKScaled(_, _)),
      // corpus-scaled cells AND resolution (cells = n/125; m/nCodes/
      // refine step to full resolution at n ≥ 2^16 — scaledPqKnobs):
      // sub-cluster-sized cells make the residual pure local noise, and
      // the resolution step-up keeps quantization noise below the
      // neighbor gaps a denser corpus carries
      "ivfpq_scaled" -> (Vectors.simTopKIvfPqScaled(_, _)),
      "ivfpq_scaled_probe" -> ((s, d) => Vectors.simTopKIvfPqScaled(s, d,
        nProbe = math.max(4, Vectors.scaledCells(Vectors.nVectors(s, d)) / 16))),
      // the compact knobs pinned at scaled cells: the r17 serving point
      // whose measured 0.32 recall on clustered-200k is WHY the rule
      // steps resolution up with the corpus (on small corpora this
      // coincides with ivfpq_scaled)
      "ivfpq_compact" -> ((s, d) => {
        val cells = Vectors.scaledCells(Vectors.nVectors(s, d))
        Vectors.simTopKIvfPq(s, d, nCells = cells, m = 8, nCodes = 64,
          refine = 32, trainSample = Vectors.trainSampleFor(cells))
      }),
      // the full rule stack — scaled cells + scaled resolution + probe
      // promoted iff the corpus's own assignment tightness supports it:
      // what a 100-TB user actually runs
      "ivfpq_serving" -> (Vectors.simTopKIvfPqServing(_, _)))

    def topkSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSet }

    def time(fn: (SparkSession, String) => DataFrame, cold: Boolean): Double = {
      def once(): Double = {
        if (cold) Caches.release(spark)
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }

    val truth = topkSets(rungs.head._2(spark, sfDir))
    val k = truth.values.map(_.size).max
    val rows = rungs.map { case (name, fn) =>
      val got = topkSets(fn(spark, sfDir))
      val recall =
        truth.keys.toSeq.map { q =>
          got.getOrElse(q, Set.empty).intersect(truth(q)).size.toDouble /
            truth(q).size
        }.sum / truth.size
      val warm = time(fn, cold = false)
      val cold = time(fn, cold = true)
      f""""$name":{"recall":$recall%.4f,"warm_sec":$warm%.3f,"cold_sec":$cold%.3f}"""
    }
    val line = s"""{"sf":"$sfDir","k":$k,"n_queries":${truth.size},""" +
      s"""$ruleJson,"rungs":{${rows.mkString(",")}}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
