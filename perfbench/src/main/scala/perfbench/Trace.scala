package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans opened with [[apply]] nest on the calling
  * thread; [[record]] adds a span measured elsewhere (a foreachBatch body
  * runs on the stream's own thread) under an explicit parent. Nothing is
  * written until the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 is the run itself
  private var next = 1

  def current: Int = synchronized(stack.head)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = next
        next += 1
        val parent = stack.head
        stack = id :: stack
        (id, parent)
      }
      val t0 = System.nanoTime()
      try body
      finally synchronized {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(next, name, parent, startNs, endNs)
      next += 1
    }

  def all: Seq[Span] = synchronized(spans.toSeq.sortBy(_.startNs))

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover, summed over spans of that name.
    */
  def selfSeconds: Seq[(String, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = a max reach
          (sum + (b - from).max(0L), reach max b)
        }._1
      s.name -> (s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
  }
}

/** Task and stage counters from Spark's listener bus, keyed by job group.
  * Events arrive asynchronously: call [[sync]] before reading.
  */
final class Meter extends SparkListener {
  final class Counters {
    var inputBytes, inputRecords, shuffleWriteBytes, shuffleWriteRecords = 0L
    var fetchWaitMs, spillBytes, outputBytes, outputRecords = 0L
    val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    /** Completed stages: (submitted ms, completed ms, read input?). */
    val stages = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  }
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Counters]
  // job and stage ids restart with every SparkContext: count, don't key
  private var endedJobs = 0L
  private var failed = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(groupOfStage(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { endedJobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      byGroup.getOrElseUpdate(groupOfStage.getOrElse(i.stageId, ""), new Counters).stages +=
        ((a, b, i.taskMetrics != null && i.taskMetrics.inputMetrics.bytesRead > 0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = byGroup.getOrElseUpdate(groupOfStage.getOrElse(e.stageId, ""), new Counters)
    if (e.reason != Success) failed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def group(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))
  def failedTasks: Long = synchronized(failed)

  /** Wait until every event posted so far has been delivered: run a marker
    * job and wait for its end event (the bus delivers in order).
    */
  def sync(sc: SparkContext): Unit = {
    sc.setJobGroup("perfbench.sync", "listener sync")
    val before = synchronized(endedJobs)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(endedJobs) <= before && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Stats {
  /** Nearest-rank percentile; `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The machine's aggregate CPU time counters from /proc/stat. */
  def cpuCounters: Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }
  /** Share of CPU time the hypervisor took since the counters `from`:
    * context for a noisy run.
    */
  def stealShare(from: Array[Long]): Double = {
    val d = cpuCounters.zip(from).map { case (a, b) => a - b }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else Double.NaN
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** VmHWM of this JVM, which runs all of Spark in local mode. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The result and trace files, written with the Jackson that Spark ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS).build()

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
