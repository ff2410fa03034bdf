package graft.streaming

import graft.llm.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING EMBEDDING COVARIANCE — the live form of
  * [[graft.llm.Vectors.embCovariance]]: the quantized moment sums
  * (count, per-dim sums, pairwise product sums) are exact BIGINTs, so
  * they are associative and mergeable, which makes them a NATIVE
  * Structured Streaming aggregate — state is the (1 + p + p(p+1)/2)
  * longs themselves, merged per micro-batch by the engine's complete-
  * mode aggregation, no custom stateful operator needed. An ingest
  * pipeline runs this to watch embedding-space drift (mean shift,
  * variance collapse, dimension death) WHILE a corpus streams in,
  * instead of re-scanning it per checkpoint.
  *
  * Because long addition is order-free, the converged stream state is
  * bit-identical to the batch aggregate under any micro-batch split —
  * StreamingMomentsSpec pins stream == batch across splits, and the
  * registered run-to-completion query shares `emb_covariance`'s DuckDB
  * oracle verbatim.
  *
  * Scale: the aggregate state is ~37 longs at p=8 (dim² longs at full
  * width) regardless of corpus size; per-batch work is one map-side
  * partial over the arriving files. The memory-sink/AvailableNow shape
  * below is the BOUNDED registration harness — a production deployment
  * writes the same aggregate to a real sink with a processing-time
  * trigger and reads covariance off the latest row.
  */
object StreamingMoments {

  /** Covariance of a STREAMING (…, embedding, …) frame, run to
    * completion: moment aggregate → complete-mode memory sink →
    * unpivot of the final 1-row state. */
  def covarianceOfStream(stream: DataFrame, p: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    val aggs = Vectors.momentAggs(p)
    // r21: global agg → ONE group, but the stateful exchange still
    // instantiates a state store per shuffle partition, all but one
    // empty and each paying the per-commit floor — scope to the
    // data-sized width (the state is ~37 longs). Long addition is
    // order-free, so the converged state is partitioning-invariant.
    val local = BoundedRun.collect(spark, "smom_", "complete",
        Seq("spark.sql.shuffle.partitions" -> "2")) {
      Vectors.momentQuantize(stream, p).agg(aggs.head, aggs.tail: _*)
    }
    Vectors.momentStatsToCov(local, p)
  }

  /** The registered bounded query: stream the embeddings table through
    * the moment aggregate and return the covariance — equal to the
    * batch `emb_covariance` by construction (same oracle). */
  def covarianceQuery(spark: SparkSession, dir: String, p: Int = 8): DataFrame =
    graft.Caches.memo(spark, s"streaming_covariance:$dir:$p") {
      val schema = graft.Tables.embeddings(spark, dir).schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      covarianceOfStream(stream, p)
    }
}
