package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main and suite runs on [[GraftSession]]'s one local session. */
class GraftSessionSpec extends AnyFunSuite {
  test("only GraftSession.scala calls SparkSession's builder, in src/main and src/test") {
    val needle = "SparkSession" + ".builder" // split, so this file holds no match
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
        .map(_.getFileName.toString).toList
      finally files.close()
    }
    assert(hits == Seq("GraftSession.scala"))
  }

  test("the test session is GraftSession(4): local[4], 4 shuffle partitions, UTC, AQE on, UI off") {
    val spark = SparkTestSession.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
