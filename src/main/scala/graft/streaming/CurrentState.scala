package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-persisted current-state maintenance — the reference's
  * compare-current-rows serving variant (init_duckdb.sh:23-68, SURVEY.md
  * S11) run continuously from foreachBatch.
  *
  * Each micro-batch is collapsed to its net change per key (argmax by the
  * LSN-analogue — the CDC upsert set) and merged into a state table kept
  * in the lake as numbered GENERATIONS (`$base/gen-<batchId>`), newest
  * complete generation wins. Unlike state held in executor cache or
  * `localCheckpoint` blocks, this survives process death: recovery lists
  * the generations and resumes from the newest COMPLETE one (Spark's job
  * commit writes `_SUCCESS` last, so a generation torn by a
  * crash mid-write is skipped). A replayed micro-batch — the
  * at-least-once window between a generation commit and the checkpoint
  * offset commit — is EXACTLY-ONCE by construction: a complete
  * `gen-<batchId>` already is the deterministic result of applying batch
  * `batchId`, so the replay is recognized and skipped; no sink-side
  * transaction needed.
  *
  * Scale: per trigger the work is O(batch + |state|) — one argmax
  * aggregation over `prior ∪ net` shuffled on the key — and state size is
  * bounded by the live key count, never the event count. Superseded
  * generations are deleted only after the new one commits, so lake
  * footprint stays ~2 generations and readers always have a complete one.
  */
object CurrentState {

  final class LakeMaintainer(s: SparkSession, base: String,
                             keyCol: String, ordCol: String, payload: Seq[String]) {

    private def genDir(batchId: Long) = s"$base/gen-$batchId"

    /** Complete generations (Spark's job commit writes `_SUCCESS` last,
      * so presence marks a fully-written snapshot).
      */
    private def completeGenerations(): Seq[Long] =
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("gen-") &&
          new java.io.File(f, "_SUCCESS").exists())
        .map(_.getName.stripPrefix("gen-").toLong).toSeq.sorted

    private[streaming] def latestGeneration(): Option[Long] =
      completeGenerations().lastOption

    /** Collapse a (possibly multi-version) change set to one winner per
      * key: the row with the greatest ordering value.
      */
    private def netPerKey(df: DataFrame): DataFrame = {
      val cols = (ordCol +: payload).map(col)
      df.groupBy(col(keyCol))
        .agg(max_by(struct(cols: _*), col(ordCol)).as("v"))
        .select(col(keyCol) +: (ordCol +: payload).map(c => col(s"v.$c").as(c)): _*)
    }

    /** Apply one micro-batch: merge its net changes into the newest
      * complete generation and publish `gen-<batchId>`. A replay of an
      * already-committed batch is a no-op (see class doc).
      */
    def step(batch: DataFrame, batchId: Long): Unit = {
      if (completeGenerations().contains(batchId)) return // replayed commit
      val net = netPerKey(batch)
      val merged = latestGeneration() match {
        case Some(g) => netPerKey(s.read.parquet(genDir(g)).unionByName(net))
        case None => net
      }
      merged.write.mode("overwrite").parquet(genDir(batchId))
      // retain only the just-published generation (delete AFTER commit:
      // a crash here leaves two complete generations, and the next
      // recovery still picks the newest)
      val keep = s"gen-$batchId"
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("gen-") && f.getName != keep)
        .foreach(f => graft.AtomicPublish.deleteTree(f.toPath))
    }

    /** The current state (newest complete generation), if any batch ran. */
    def current(): Option[DataFrame] = latestGeneration().map(g => s.read.parquet(genDir(g)))
  }
}
