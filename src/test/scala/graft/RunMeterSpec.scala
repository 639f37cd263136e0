package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, udf}

/** [[RunMeter]]: every counter of a measured run belongs to that run, a
  * failure is captured rather than thrown, and the shared best-of-N never
  * lets a failed run hide behind a faster one.
  */
class RunMeterSpec extends SparkSuite {

  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeExec => e +: e.children.flatMap(exchanges)
    case other => other.children.flatMap(exchanges)
  }

  test("shuffle-write bytes equal the exchange's shuffleBytesWritten metric") {
    val run = RunMeter.using(spark)(_.query("repartition")(
      spark.range(0, 200000, 1, 4).selectExpr("id", "id * 7 AS v").repartition(8)))
    val plan = run.result.toOption.get.queryExecution.executedPlan
    val fromPlan = exchanges(plan).map(_.metrics("shuffleBytesWritten").value)
    assert(fromPlan.size == 1, plan.toString)
    assert(run.shuffleBytes > 0)
    assert(run.shuffleBytes == fromPlan.sum)
  }

  test("worstTask is the longest task with its stage's median and task count") {
    val slowFirst = udf((id: Long) => { if (id == 0) Thread.sleep(1200); id })
    val run = RunMeter.using(spark)(_.query("skewed")(
      spark.range(0, 8, 1, 8).select(slowFirst(col("id")).as("id"))))
    val (maxMs, medMs, n) = run.worstTask
    assert(n == 8)
    assert(maxMs >= 1200)
    assert(medMs < 600, s"median $medMs ms of a stage with one slow task")
    val stage = run.stages.values.find(_.n == 8).get
    assert((stage.maxMs, stage.medMs) == ((maxMs, medMs)))
  }

  test("a throwing body yields its class and message, with the bus drained") {
    val run = RunMeter.using(spark)(_.measure("boom") {
      spark.range(0, 100, 1, 3).foreach((_: java.lang.Long) => ())
      throw new IllegalStateException("boom")
    })
    assert(run.failed)
    assert(run.seconds == -1.0)
    assert(run.error.contains("IllegalStateException: boom"))
    // the job the body ran before throwing is fully delivered: no event of
    // it is still on the asynchronous listener bus
    assert(run.jobs.size == 1)
    assert(run.stages.values.map(_.n).sum == 3)
  }

  test("jobs under measure carry the label, and the prior description returns") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      val run = RunMeter.using(spark)(_.query("labelled")(spark.range(0, 1000, 1, 2).toDF().repartition(3)))
      assert(run.jobs.nonEmpty)
      assert(run.jobs.forall(_.description == "labelled"), run.jobs)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
  }

  test("best of n fails when any run fails, and is the fastest otherwise") {
    var calls = 0
    val run = RunMeter.using(spark)(_.best("flaky", 2) {
      calls += 1
      if (calls == 1) throw new RuntimeException("first call")
      spark.range(10).toDF()
    })
    assert(calls == 2)
    assert(run.failed && run.seconds == -1.0)
    val ok = RunMeter.using(spark)(_.best("ok", 3)(spark.range(10).toDF()))
    assert(!ok.failed && ok.seconds > 0)
  }

  test("a skew probe that throws in one of its runs is a failed probe") {
    var calls = 0
    val flaky = (s: SparkSession, _: String) => {
      calls += 1
      if (calls == 1) throw new RuntimeException("first call only")
      s.range(100).toDF(): DataFrame
    }
    val sf = "/root/testdata/sf0.001"
    val Seq((name, m)) = SkewStress.run(spark, sf, sf, Seq("flaky"), Map("flaky" -> flaky))
    assert(name == "flaky")
    assert(m.baseS == -1.0, s"the failed base run was hidden: $m")
    assert(m.skewS > 0)
  }
}
