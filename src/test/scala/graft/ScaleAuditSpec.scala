package graft

import org.apache.spark.sql.functions._

/** Unit pins for [[ScaleAudit.audit]] — since r13 its hit list is a
  * graded bench key (`"scale_audit"`), so a regression that silently
  * empties the sweep (a walk that stops early, an exemption that
  * swallows the cliff class) must fail `sbt test`, not read as a clean
  * round. The pre-r13 audit failed exactly this way: `reachesRaw`
  * treated QueryStageExec as an opaque leaf, so in EXECUTED plans —
  * where every broadcast build is wrapped in a BroadcastQueryStage —
  * it could flag nothing at all, and the folded-in bench sweep was
  * auditing never-executed initial plans instead (17 phantom hits).
  *
  * Controls, all on EXECUTED plans:
  *   - positive: a broadcast build over a checkpointed RDD leaf (the
  *     non-tracking-statistics class, the r12 cliff) is flagged
  *     through the broadcast stage wrapper;
  *   - exemption: the same broadcast THROUGH an aggregate is clean
  *     (the build is bounded by its group domain);
  *   - tracking-estimate: a broadcast build rooted at a raw FILE scan
  *     is clean — the planner's size estimate grows with the file, so
  *     the plan degrades to a shuffle join at scale by construction;
  *   - a shuffle_hash-pinned join over the checkpointed table is clean.
  */
class ScaleAuditSpec extends SparkSuite {

  import spark.implicits._

  /** A tiny fact-named lake (the fact-class naming mirrors the real
    * catalog's `documents` table; the audit no longer keys on it, but
    * the fixture keeps the test honest about WHAT is exempt).
    */
  private lazy val factDir: String = {
    val dir = SparkSuite.scratchDir("graft-audit")
    (1L to 200L).map(i => (i, s"doc $i body"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def docs = spark.read.parquet(s"$factDir/documents.parquet")

  test("audit flags a broadcast build over a checkpointed RDD leaf") {
    val pinned = docs.select(col("doc_id")).localCheckpoint(true)
    val df = docs.join(broadcast(pinned), "doc_id").groupBy().count()
    df.collect()
    val hits = ScaleAudit.audit(df.queryExecution.executedPlan)
    assert(hits.exists(_.contains("checkpointed-rdd")),
      s"expected a BHJ hit on the checkpointed leaf, got: $hits")
  }

  test("audit exempts a checkpointed broadcast that passes through an " +
      "aggregate") {
    val pinned = docs.select(col("doc_id")).localCheckpoint(true)
    val agg = pinned.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val df = docs.join(broadcast(agg), "doc_id").groupBy().count()
    df.collect()
    val hits = ScaleAudit.audit(df.queryExecution.executedPlan)
    assert(hits.isEmpty,
      s"aggregated broadcast side must be exempt (bounded), got: $hits")
  }

  test("audit exempts a broadcast build rooted at a raw file scan " +
      "(size estimate tracks the data)") {
    val df = docs.join(broadcast(docs.select(col("doc_id"))), "doc_id")
      .groupBy().count()
    df.collect()
    val hits = ScaleAudit.audit(df.queryExecution.executedPlan)
    assert(hits.isEmpty,
      s"file-scan-rooted broadcast must be exempt (tracking), got: $hits")
  }

  test("shuffle_hash-pinned join over the checkpointed table audits clean") {
    val pinned = docs.localCheckpoint(true)
    val df = pinned.hint("shuffle_hash")
      .join(docs.select(col("doc_id")), "doc_id")
      .groupBy().count()
    df.collect()
    val hits = ScaleAudit.audit(df.queryExecution.executedPlan)
    assert(hits.isEmpty, s"shuffle_hash join must audit clean, got: $hits")
  }
}
