package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]]: each table's schema is resolved once per file
  * stamp, so only a file's first read runs a Spark job. */
class TablesSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  /** Spark jobs `body` starts on this thread. A barrier job follows it:
    * the listener bus delivers in order, so once the barrier shows,
    * every earlier job has too. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-tables-${System.nanoTime()}"
    val barrier = s"$group-barrier"
    val jobs = new ConcurrentLinkedQueue[String]()
    val barrierSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => if (g == barrier) barrierSeen.countDown() else jobs.add(g))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, barrier)
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(barrierSeen.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (out, jobs.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of a table runs no Spark job") {
    val dir = tempDir("graft-tables-read").toString
    Files.copy(Paths.get(s"$sf/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val (first, coldJobs) = jobsOf(Tables.orders(spark, dir))
    val (second, warmJobs) = jobsOf(Tables.orders(spark, dir))
    assert(coldJobs >= 1, "the first read resolves the schema")
    assert(warmJobs == 0, s"$warmJobs Spark jobs on the second read")
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("a table rewritten at the same path with other columns resolves to its new schema") {
    import spark.implicits._
    val path = s"${tempDir("graft-tables-rewrite")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("k", "v"))
    Seq((3, 4.0, "x")).toDF("id", "score", "tag").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq == Seq("id", "score", "tag"))
    assert(df.as[(Int, Double, String)].collect().toSeq == Seq((3, 4.0, "x")))
  }

  test("the events loader returns the same ts type and rows cold and warm") {
    val dir = tempDir("graft-tables-events").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    val cold = Tables.events(spark, dir)
    val warm = Tables.events(spark, dir)
    assert(cold.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(warm.schema == cold.schema)
    val (c, w) = (cold.collect(), warm.collect())
    assert(c.nonEmpty && c.toSet == w.toSet && c.length == w.length)
  }

  test("Tables.scala and EventStreams.scala read parquet only through the resolver") {
    val needle = "read" + ".parquet(" // split, so this file holds no match
    def src(p: String) = Files.readString(Paths.get(p))
    def hits(text: String) =
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).toSeq
    val tables = src("src/main/scala/graft/Tables.scala")
    val start = tables.indexOf("def parquet(")
    val end = tables.indexOf("\n  }\n", start)
    assert(start >= 0 && end > start, "no Tables.parquet resolver")
    val outside = hits(tables).filterNot(i => i > start && i < end)
    assert(outside.isEmpty, s"bare parquet reads in Tables.scala at offsets $outside")
    assert(hits(src("src/main/scala/graft/streaming/EventStreams.scala")).isEmpty)
  }
}
