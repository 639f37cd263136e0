package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftSparkInternals.drainListenerBus
import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness's one run meter. Every timed run in Bench, Verify,
  * ScaleSmoke, SkewStress and Diag goes through [[measure]]: it drains
  * the listener bus, resets the counters, labels the run's jobs, times
  * the body, captures a failure as class + message, and drains again, so
  * every counter in the returned [[RunMeter.Run]] belongs to that run.
  *
  * The listener keeps, per run:
  *  - per-stage task aggregates (count, time, max/median, GC, spill,
  *    shuffle and input bytes), from `onTaskEnd`;
  *  - shuffle-WRITE bytes, from `onStageCompleted`. Every exchange writes
  *    its payload exactly once (reads re-fetch the same bytes), so this is
  *    the volume pushed through `Exchange` nodes, the number Bench reports
  *    as `shuffle_mb`;
  *  - the wall and description of each job.
  *
  * The listener bus is global to the SparkContext: runs must not overlap
  * on one session, or their counters mix.
  */
final class RunMeter private (sc: SparkContext) extends SparkListener {
  import RunMeter._

  @volatile private var stages = TrieMap[Int, StageAgg]()
  private val shuffleBytes = new AtomicLong()
  private val jobStarts = TrieMap[Int, (Long, String)]()
  private val jobs = ArrayBuffer[Job]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null)
      stages.getOrElseUpdate(t.stageId, new StageAgg).add(t.taskInfo.duration, t.taskMetrics)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobStarts(j.jobId) = (System.nanoTime(),
      Option(j.properties).flatMap(p => Option(p.getProperty(JobDescription)))
        .getOrElse(""))

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobStarts.remove(j.jobId).foreach { case (t0, d) =>
      jobs.synchronized { jobs += Job(j.jobId, (System.nanoTime() - t0) / 1e9, d) }
    }

  /** Run `body` once under `label` (the description of every job it
    * starts; the caller's description is restored afterwards). A body that
    * throws yields a failed run with seconds -1.0, logged on stderr.
    */
  def measure[A](label: String)(body: => A): Run[A] = {
    drainListenerBus(sc)
    stages = TrieMap()
    shuffleBytes.set(0L)
    jobs.synchronized(jobs.clear())
    val prior = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    val t0 = System.nanoTime()
    // Throwable, not NonFatal: a query that exhausts memory is a failed
    // query in the record, not a dead harness
    val result: Either[String, A] =
      try Right(body)
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
      }
    val sec = (System.nanoTime() - t0) / 1e9
    sc.setJobDescription(prior)
    drainListenerBus(sc)
    result.left.foreach(err => System.err.println(s"[run] $label failed: $err"))
    Run(label, if (result.isRight) sec else -1.0, result, shuffleBytes.get(),
      stages.readOnlySnapshot().toMap, jobs.synchronized(jobs.toSeq))
  }

  /** Run `df` once to completion with [[Materialize.force]]; the run's
    * value is the DataFrame, whose `executedPlan` is then the final
    * adaptive plan that ran.
    */
  def query(label: String)(df: => DataFrame): Run[DataFrame] =
    measure(label) { val d = df; Materialize.force(d); d }

  /** Best of `n` [[query]] runs: the fastest, or the first failed run if
    * any failed. A run that throws must never hide behind a faster one:
    * a query that fails one time in `n` is a failed query.
    */
  def best(label: String, n: Int)(df: => DataFrame): Run[DataFrame] = {
    val runs = (1 to n).map(_ => query(label)(df))
    runs.find(_.failed).getOrElse(runs.minBy(_.seconds))
  }
}

object RunMeter {

  /** The job property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** Run `f` with a meter attached to `spark`'s listener bus. */
  def using[T](spark: SparkSession)(f: RunMeter => T): T = {
    val m = new RunMeter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    try f(m) finally spark.sparkContext.removeSparkListener(m)
  }

  /** One measured run. `seconds` is -1.0 when the body threw; `result`
    * holds the body's value or "ExceptionClass: message head".
    */
  final case class Run[+A](label: String, seconds: Double, result: Either[String, A],
                           shuffleBytes: Long, stages: Map[Int, StageAgg], jobs: Seq[Job]) {
    def failed: Boolean = result.isLeft
    def error: Option[String] = result.left.toOption
    def shuffleMb: Double = shuffleBytes / 1e6

    /** (max task ms, median task ms, task count): the longest task of the
      * run, with the median and task count of the stage that ran it. The
      * hot task itself is the straggler signal; a "heaviest stage" pick
      * lands on 1-task result stages and reads a meaningless 1.0x.
      */
    def worstTask: (Long, Long, Int) =
      stages.values.filter(_.n > 0).maxByOption(_.maxMs)
        .fold((0L, 0L, 0))(a => (a.maxMs, a.medMs, a.n))
  }

  /** Wall seconds and description of one job. */
  final case class Job(id: Int, seconds: Double, description: String)

  /** Task aggregates of one stage, in ms and MB. */
  final class StageAgg {
    var n = 0
    var sumMs, maxMs, gcMs = 0L
    var spillMb, shufReadMb, shufWriteMb, inputMb = 0.0
    private val durations = ArrayBuffer[Long]()

    private[RunMeter] def add(ms: Long, m: TaskMetrics): Unit = synchronized {
      n += 1
      sumMs += ms
      maxMs = math.max(maxMs, ms)
      durations += ms
      if (m != null) {
        gcMs += m.jvmGCTime
        spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        shufReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
        shufWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
        inputMb += m.inputMetrics.bytesRead / 1e6
      }
    }

    def medMs: Long = synchronized {
      val s = durations.sorted
      if (s.isEmpty) 0L else s(s.size / 2)
    }
    def gcPct: Double = if (sumMs > 0) 100.0 * gcMs / sumMs else 0.0
  }
}
