package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streaming moment aggregation: the covariance off the converged
  * stream state must be BIT-IDENTICAL to the batch aggregate — exact
  * long sums are order-free, so any micro-batch split merges to the
  * same state. */
class StreamingMomentsSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def covMap(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap

  test("streaming covariance == batch covariance, single and split micro-batches") {
    val batch = covMap(graft.llm.Vectors.embCovariance(spark, sf).collect())
    assert(batch.size == 36)

    val single = covMap(
      graft.streaming.StreamingMoments.covarianceQuery(spark, sf).collect())
    assert(single == batch) // bit-for-bit, not approximately

    // split the table into 3 files and feed them one per trigger: three
    // complete-mode merges must converge to the same exact state
    val tmp = tempDir("smom_split").toFile
    graft.Tables.embeddings(spark, sf).repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/emb")
    val stream = spark.readStream
      .schema(graft.Tables.embeddings(spark, sf).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/emb")
    val multi = covMap(
      graft.streaming.StreamingMoments.covarianceOfStream(stream).collect())
    assert(multi == batch)
  }
}
