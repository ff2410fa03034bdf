package graft

import java.nio.file.{Files, Paths}

import graft.ingest.OrcSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OrcSourceSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  test("ORC round-trip is value-lossless on the documents table") {
    val base = tempDir("graft-orc").toString
    val docs = Tables.documents(spark, sf)
    OrcSource.writePartitioned(docs, base)
    val back = OrcSource.read(spark, base)
      .select(docs.columns.map(col): _*) // partition col moves to the end on read
    val orig = docs.collect().map(_.toSeq).toSet
    val round = back.collect().map(_.toSeq).toSet
    assert(round == orig)
  }

  test("lang filter prunes to the one partition directory") {
    val base = tempDir("graft-orc-prune").toString
    OrcSource.writePartitioned(Tables.documents(spark, sf), base)
    val langs = Tables.documents(spark, sf)
      .select(col("lang")).distinct().collect().map(_.getString(0))
    assert(langs.length > 1) // pruning needs something to prune
    langs.foreach { l =>
      assert(Files.isDirectory(Paths.get(base, s"lang=$l")))
    }
    val scan = OrcSource.read(spark, base).filter(col("lang") === "en")
    val plan = scan.queryExecution.executedPlan.toString
    // the file-source scan's partition filter carries the lang predicate,
    // so only lang=en/ files are listed
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    val expected = Tables.documents(spark, sf)
      .filter(col("lang") === "en").count()
    assert(scan.count() == expected && expected > 0)
  }

  test("orc_scan query equals the parquet-side projection") {
    val got = OrcSource.orcScan(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.documents(spark, sf)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("a second orcScan never invalidates an earlier scan's files") {
    // the old overwrite-in-place mirror deleted the files an already-
    // planned DataFrame had listed; the immutable publish keeps every
    // reader valid however many builders run
    val first = OrcSource.orcScan(spark, sf)
    val n2 = OrcSource.orcScan(spark, sf).count()
    val n1 = first.count() // executed AFTER the second build
    assert(n1 == n2 && n1 > 0)
  }
}
