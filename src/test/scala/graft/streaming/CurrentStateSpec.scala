package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash/replay semantics of the lake-persisted current-state maintainer
  * (the generation-chain contract its Scaladoc claims; the happy-path
  * convergence is oracle-checked by the `streaming_current_state` query).
  */
class CurrentStateSpec extends SparkSuite {

  private def changes(rows: (Long, Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("k", "seq", "v")
  }

  private def mk(base: String) =
    new CurrentState.LakeMaintainer(spark, base, "k", "seq", Seq("v"))

  private def asMap(df: DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("state survives a process 'death': a fresh maintainer resumes from the lake") {
    val base = SparkSuite.scratchDir("cs_restart")
    val m1 = mk(base)
    m1.step(changes((1L, 10L, 1.0), (2L, 11L, 2.0)), 0L)
    m1.step(changes((2L, 20L, 2.5)), 1L)
    // new instance, no in-memory carryover — recovery must see gen-1
    val m2 = mk(base)
    assert(m2.latestGeneration().contains(1L))
    m2.step(changes((3L, 30L, 3.0), (1L, 5L, 9.9)), 2L) // k=1 seq 5 < 10: loses
    assert(asMap(m2.current().get) ===
      Map(1L -> (10L, 1.0), 2L -> (20L, 2.5), 3L -> (30L, 3.0)))
  }

  test("replaying a committed batch is a no-op (exactly-once without a transaction)") {
    val base = SparkSuite.scratchDir("cs_replay")
    val m = mk(base)
    m.step(changes((1L, 10L, 1.0)), 0L)
    m.step(changes((1L, 20L, 2.0), (2L, 21L, 4.0)), 1L)
    val before = asMap(m.current().get)
    // the at-least-once window: batch 1 redelivered after its commit
    mk(base).step(changes((1L, 20L, 2.0), (2L, 21L, 4.0)), 1L)
    assert(asMap(mk(base).current().get) === before)
    assert(mk(base).latestGeneration().contains(1L))
  }

  test("a torn generation (no _SUCCESS) is skipped by recovery") {
    val base = SparkSuite.scratchDir("cs_torn")
    val m = mk(base)
    m.step(changes((1L, 10L, 1.0)), 0L)
    // simulate a crash mid-write of gen-1: directory exists, no _SUCCESS
    val torn = new java.io.File(s"$base/gen-1")
    assert(torn.mkdirs())
    assert(mk(base).latestGeneration().contains(0L))
    // the replayed batch then applies normally over gen-0
    mk(base).step(changes((1L, 20L, 2.0)), 1L)
    assert(asMap(mk(base).current().get) === Map(1L -> (20L, 2.0)))
  }

  test("within-batch churn collapses to the max-seq winner per key") {
    val base = SparkSuite.scratchDir("cs_net")
    val m = mk(base)
    m.step(changes((1L, 3L, 0.1), (1L, 7L, 0.7), (1L, 5L, 0.5)), 0L)
    assert(asMap(m.current().get) === Map(1L -> (7L, 0.7)))
  }
}
