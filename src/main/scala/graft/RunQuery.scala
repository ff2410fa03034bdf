package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Runs registered queries one by one and prints one line per query —
  * the single-query debugging and job-audit loop Bench can't give (it
  * swallows stacks and counts no jobs):
  *
  *   sbt "runMain graft.RunQuery <name>[,<name>…|all] [sfDir]"
  *
  * Each query runs twice. The cold pass builds its memos; the warm pass
  * runs with them hot, the steady-state shape. Both times cover plan
  * execution only: eager work in the query builder (model fits,
  * index writes) happens before t0, so use Bench for per-query cost.
  * The job and stage counts cover the whole warm pass, builder
  * included: on a host whose per-job scheduler floor swings with steal,
  * a query's time there is about compute + jobs × floor, so the job
  * count is the lever. A query that throws prints `FAILED: <class>`
  * and the run goes on.
  *
  * SPARK_GRAFT_EXPLAIN=1 also prints each query's formatted physical
  * plan (exchange count, PushedFilters, WholeStageCodegen spans).
  * Oracle checks of single queries go through `Verify <sf> <out> <names>`
  * and `tools/check.py`.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0) match {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case list  => list.split(",").toSeq
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession()
    @volatile var jobs = 0
    @volatile var stages = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1; stages += j.stageInfos.size
      }
    })
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // times plan execution only: the builder has already returned
    def exec(name: String, showPlan: Boolean): (Long, Double) = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (showPlan)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      (n, (System.nanoTime() - t0) / 1e9)
    }

    println(f"${"query"}%-34s ${"rows"}%9s ${"cold_s"}%8s ${"warm_s"}%8s ${"jobs"}%5s ${"stages"}%7s")
    for (name <- names) {
      try {
        val (n, coldSec) = exec(name, explain)
        Thread.sleep(50) // let listener events drain
        val (j0, s0) = (jobs, stages)
        val (_, warmSec) = exec(name, showPlan = false)
        Thread.sleep(50)
        println(f"$name%-34s $n%9d $coldSec%8.3f $warmSec%8.3f ${jobs - j0}%5d ${stages - s0}%7d")
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
