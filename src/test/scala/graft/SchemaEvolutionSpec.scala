package graft

import graft.ingest.SchemaEvolution
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SchemaEvolutionSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  test("mergeSchema surfaces the evolved column; pre-evolution rows read null") {
    val base = tempDir("graft-evo").toString
    val published = SchemaEvolution.writeEpochs(spark, sf, base)
    val merged = SchemaEvolution.readMerged(spark, published)
    val docs = Tables.documents(spark, sf)
    assert(merged.count() == docs.count())
    // epoch-0 files predate lang: null there, populated after
    val byEpoch = merged.groupBy(col("epoch"))
      .agg(count(lit(1)).as("n"),
        count(col("lang")).as("n_lang"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byEpoch(0)._1 > 0 && byEpoch(0)._2 == 0)
    assert(byEpoch(1)._1 > 0 && byEpoch(1)._2 == byEpoch(1)._1)
  }

  test("an explicit union schema reads the history identically without footer merging") {
    val base = tempDir("graft-evo-schema").toString
    val published = SchemaEvolution.writeEpochs(spark, sf, base)
    val merged = SchemaEvolution.readMerged(spark, published)
      .select("doc_id", "lang", "n_chars")
    // the 100 TB alternative: declare the union schema up front — no
    // per-file footer listing at plan time, same null semantics
    val declared = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .parquet(published).select("doc_id", "lang", "n_chars")
    val a = merged.collect().map(_.toSeq).toSet
    val b = declared.collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("writeEpochs publishes once: a rebuilt attempt never disturbs the published history") {
    val base = tempDir("graft-evo-pub").toString
    val p1 = SchemaEvolution.writeEpochs(spark, sf, base)
    val marker = new java.io.File(s"$p1/${Published.Marker}")
    assert(marker.exists())
    val mtime = marker.lastModified()
    val p2 = SchemaEvolution.writeEpochs(spark, sf, base)
    assert(p1 == p2)
    assert(marker.lastModified() == mtime, "published history was rewritten")
  }

  test("schema_evolution query equals the direct computation on the source table") {
    val got = SchemaEvolution.schemaEvolutionScan(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.documents(spark, sf)
      .select(when(col("doc_id") % 2 === 0, lit("unknown"))
        .otherwise(col("lang")).as("lang_eff"), col("n_chars"))
      .groupBy(col("lang_eff"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }
}
