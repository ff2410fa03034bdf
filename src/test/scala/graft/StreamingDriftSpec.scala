package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming drift monitor: counts restricted to the pinned reference
  * vocabulary accumulate as exact longs, so the converged PSI equals
  * the batch `source_drift` bit for bit — single batch or split. */
class StreamingDriftSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def psiMap(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap

  test("streaming drift == batch source_drift, single and split micro-batches") {
    val batch = psiMap(graft.llm.TextOps.sourceDrift(spark, sf).collect())
    assert(batch.nonEmpty)

    val single = psiMap(
      graft.streaming.StreamingDrift.driftQuery(spark, sf).collect())
    assert(single == batch) // bit-for-bit

    // split the corpus into 3 files fed one per trigger: the per-term
    // count state must merge across batches to the same exact totals
    val tmp = tempDir("sdrift_split").toFile
    graft.Tables.documents(spark, sf).repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val stream = spark.readStream
      .schema(graft.Tables.documents(spark, sf).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/docs")
      .select(col("source"), col("text"))
    val top = graft.llm.TextOps.topTerms(spark, sf)
    val sources = graft.Tables.documents(spark, sf)
      .select(col("source")).distinct()
    val multi = psiMap(graft.streaming.StreamingDrift
      .driftOfStream(stream, top, sources).collect())
    assert(multi == batch)
  }
}
