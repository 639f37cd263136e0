package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-stage task profiling — the readout that adjudicates a
  * time-superlinear trend whose shuffle is clean (VERDICT r14 task #1: is
  * a t_trend of ~20 a CPU-quadratic like the r13 funnel, or GC/spill
  * pressure at the 14 GB lake?). A quadratic concentrates wall in one
  * semantic stage whose task max ≫ median; memory pressure shows up as a
  * high GC share / nonzero spill spread across tasks.
  *
  * As of r16 the listener is a reusable [[StageProfile.Meter]] so
  * `Diag smoke --profile` can emit the same digest in-line for any
  * flagged row (VERDICT r15 task #5 — the adjudication readout must come
  * from the SAME run that produced the flag, not a later hand-run).
  * `Diag profile` prints the full [[Meter.table]].
  */
object StageProfile {

  final case class StageAgg(
      var n: Int = 0, var sumMs: Long = 0L, var maxMs: Long = 0L,
      var gcMs: Long = 0L, var spillMb: Double = 0.0,
      var shufReadMb: Double = 0.0, var shufWriteMb: Double = 0.0,
      var inputMb: Double = 0.0,
      durations: scala.collection.mutable.ArrayBuffer[Long] =
        new scala.collection.mutable.ArrayBuffer[Long]()) {
    def medMs: Long = {
      val s = durations.sorted
      if (s.isEmpty) 0L else s(s.size / 2)
    }
    def gcPct: Double = if (sumMs > 0) 100.0 * gcMs / sumMs else 0.0
  }

  /** Attachable per-stage task meter. reset() between measured runs;
    * drain the listener bus first or the previous run's async task events
    * pollute the profile (same contract as SkewStress's TaskMeter).
    */
  final class Meter extends SparkListener {
    val stages = new scala.collection.concurrent.TrieMap[Int, StageAgg]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskMetrics != null) {
        val a = stages.getOrElseUpdate(t.stageId, StageAgg())
        a.synchronized {
          a.n += 1
          a.sumMs += t.taskInfo.duration
          a.maxMs = math.max(a.maxMs, t.taskInfo.duration)
          a.gcMs += t.taskMetrics.jvmGCTime
          a.spillMb += (t.taskMetrics.memoryBytesSpilled +
            t.taskMetrics.diskBytesSpilled) / 1e6
          a.shufReadMb += t.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
          a.shufWriteMb += t.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
          a.inputMb += t.taskMetrics.inputMetrics.bytesRead / 1e6
          a.durations += t.taskInfo.duration
        }
      }
    def reset(): Unit = stages.clear()

    /** A header plus one line per stage, heaviest first — the full table
      * `Diag profile` prints for each run.
      */
    def table(): Seq[String] = {
      val header = f"${"stage"}%7s ${"tasks"}%6s ${"sum_s"}%8s ${"max_s"}%7s " +
        f"${"med_s"}%7s ${"gc%"}%5s ${"spill"}%8s ${"sh_rd"}%8s ${"sh_wr"}%8s ${"input"}%8s"
      header +: stages.readOnlySnapshot().toSeq.sortBy(-_._2.sumMs).map { case (id, a) =>
        f"$id%7d ${a.n}%6d ${a.sumMs / 1000.0}%8.2f ${a.maxMs / 1000.0}%7.2f " +
          f"${a.medMs / 1000.0}%7.2f ${a.gcPct}%5.1f ${a.spillMb}%7.0fM ${a.shufReadMb}%7.0fM " +
          f"${a.shufWriteMb}%7.0fM ${a.inputMb}%7.0fM"
      }
    }

    /** One line per stage, heaviest first (by task-time sum), at most
      * `top` stages — the compact in-line digest `Diag smoke` prints for a
      * flagged row.
      */
    def digest(top: Int = 3): Seq[String] =
      stages.readOnlySnapshot().toSeq.sortBy(-_._2.sumMs).take(top).map {
        case (id, a) =>
          f"stage $id: tasks=${a.n} sum=${a.sumMs / 1000.0}%.1fs " +
            f"max/med=${a.maxMs / 1000.0}%.2f/${a.medMs / 1000.0}%.2fs " +
            f"gc=${a.gcPct}%.1f%% spill=${a.spillMb}%.0fM " +
            f"sh_rd=${a.shufReadMb}%.0fM sh_wr=${a.shufWriteMb}%.0fM " +
            f"input=${a.inputMb}%.0fM"
      }
  }
}
