package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.GraftSparkInternals.drainListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The catalog's diagnostics, behind one entry point:
  *
  *   sbt 'runMain graft.Diag <cmd> <sfDir> [names] [args]'
  *
  * `names` is a comma list of catalog query names; `all` (or nothing,
  * where names are optional) means the whole catalog. The subcommands are
  * listed in [[Usage]]. The session is `GraftSession.local` with
  * `SPARK_GRAFT_CPUS` cores (default 32, as in Bench); [[run]] takes any
  * session, so a test can pass in its own.
  */
object Diag {

  val Usage: String =
    """usage: graft.Diag <cmd> <sfDir> [names|all] [args]
      |  plans   <sfDir> [names] [outFile]   formatted plans to one file (default
      |                                      /tmp/graft_plans.md), a [flag] line per red flag
      |  explain <sfDir> <names> [outDir] [tag]   formatted + AQE-final plan of each
      |                                      query, to <outDir>/<name>_<tag>.txt or stdout
      |  scans   <sfDir> [names] [minDup]    sources scanned minDup (default 3)+ times
      |  profile <sfDir> <names> [reps]      per-stage task table, per-job seconds and
      |                                      per-exchange shuffle of each run (default 2)
      |  smoke   <sfDir> [names] [factor] [--profile]   head vs scaled-lake (default 10x)
      |                                      best-of-2; without names, the scale audit
      |                                      of every smoke query
      |  time    <sfDir> <names>             Bench's warm-up, then best-of-3 seconds
      |                                      as one JSON line""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args) finally spark.stop()
  }

  /** Dispatch one subcommand; an unknown one (or missing arguments)
    * throws `IllegalArgumentException` carrying [[Usage]].
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val pos = args.toSeq.filterNot(_.startsWith("--"))
    def names(i: Int): Option[Seq[String]] = select(pos.lift(i))
    def required(i: Int): Seq[String] = names(i).getOrElse(usage())
    def num(i: Int, default: Int): Int = pos.lift(i).fold(default)(_.toInt)
    if (pos.size < 2) usage()
    val sfDir = pos(1)
    pos.head match {
      case "plans" => plans(spark, sfDir, names(2), pos.lift(3).getOrElse("/tmp/graft_plans.md"))
      case "explain" => explain(spark, sfDir, required(2), pos.lift(3), pos.lift(4).getOrElse("before"))
      case "scans" => scans(spark, sfDir, names(2), num(3, 3))
      case "profile" => profile(spark, sfDir, required(2), num(3, 2))
      case "smoke" => names(2) match {
        case Some(ns) => smoke(spark, sfDir, ns, num(3, ScaleSmoke.Factor), args.contains("--profile"))
        case None => scaleAudit(spark, sfDir, num(3, ScaleSmoke.Factor))
      }
      case "time" =>
        println(time(spark, sfDir, required(2))
          .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
          .mkString("{\"queries\":{", ",", "}}"))
      case _ => usage()
    }
  }

  private def usage(): Nothing = throw new IllegalArgumentException(Usage)

  private lazy val byName: Map[String, QueryDef] = SparkEntry.all.map(q => q.name -> q).toMap

  /** The named queries (None for `all` or no argument); unknown names fail. */
  private def select(arg: Option[String]): Option[Seq[String]] =
    arg.filter(_ != "all").map { a =>
      // distinct: a repeated name would print the same query twice and read
      // like two divergent measurements
      val names = a.split(",").toSeq.map(_.trim).filter(_.nonEmpty).distinct
      val unknown = names.filterNot(byName.contains)
      require(unknown.isEmpty, s"unknown catalog queries: ${unknown.mkString(", ")}")
      names
    }

  private def defs(names: Option[Seq[String]]): Seq[QueryDef] =
    names.fold(SparkEntry.all)(_.map(byName))

  /** Every batch query's formatted physical plan to `out`, with a `[flag]`
    * line for each scale red-flag: cartesian products, nested-loop joins
    * and unbounded global windows ([[PlanAudit]]). Side-effecting
    * (streaming) queries have no batch plan and are listed as skipped.
    */
  def plans(spark: SparkSession, sfDir: String, names: Option[Seq[String]], out: String): Unit = {
    val (skipped, batch) = defs(names).partition(_.sideEffecting)
    val sb = new StringBuilder
    batch.foreach { q =>
      val qe = Try(q.spark(spark, sfDir).queryExecution).toOption
      val plan = qe.map(_.explainString(FormattedMode)).getOrElse("ERROR building plan")
      sb.append(s"\n## ${q.name}\n\n```\n$plan```\n")
      val windowFlags =
        if (PlanAudit.boundedWindowWhitelist.contains(q.name)) Nil
        else qe.toSeq.flatMap(e => PlanAudit.unboundedGlobalWindows(e.executedPlan))
      val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains) ++
        windowFlags
      if (flags.nonEmpty) println(s"[flag] ${q.name}: ${flags.mkString(", ")}")
    }
    if (skipped.nonEmpty)
      sb.append(s"\n## skipped (sideEffecting — streaming runs, no batch plan to audit)\n\n" +
        skipped.map(_.name).mkString("- ", "\n- ", "\n"))
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans -> $out")
  }

  /** `.explain("formatted")` plus the executed (AQE-final) plan of each
    * query: to `<outDir>/<name>_<tag>.txt` (the before/after plan evidence
    * files under plans/), or to stdout without `outDir`. Formatted mode
    * carries the scan details (PushedFilters / ReadSchema), the Exchange
    * placement and the join strategies; the executed plan shows what AQE
    * actually ran (reused exchanges, runtime join downgrades, coalesced
    * reads).
    */
  def explain(spark: SparkSession, sfDir: String, names: Seq[String],
              outDir: Option[String], tag: String): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { n =>
      val df = byName(n).spark(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      // execute to finalize every AdaptiveSparkPlan: the formatted dump
      // above is the pre-execution view (isFinalPlan=false on AQE roots)
      Materialize.force(df)
      val txt = s"== $n @ $sfDir ($tag) ==\n\n" +
        "---- explain(formatted), pre-execution ----\n" + formatted +
        "\n---- executed plan (AQE final) ----\n" + df.queryExecution.executedPlan + "\n"
      outDir match {
        case Some(d) =>
          Files.writeString(Paths.get(d).resolve(s"${n}_$tag.txt"), txt)
          println(s"[explainfmt] wrote ${n}_$tag.txt")
        case None => print(txt)
      }
    }
  }

  /** Count FileSourceScan instances per input path (subqueries included)
    * in each batch query's executed plan, and print the queries that scan
    * one source `minDup`+ times — the multi-consumer re-plan signature
    * (PLANS.md round-11 rule).
    */
  def scans(spark: SparkSession, sfDir: String, names: Option[Seq[String]], minDup: Int): Unit =
    defs(names).filterNot(_.sideEffecting).foreach { q =>
      try {
        val plan = q.spark(spark, sfDir).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        val dup = plan.collectWithSubqueries {
          case sc: FileSourceScanExec =>
            sc.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
        }.groupBy(identity).view.mapValues(_.size).filter(_._2 >= minDup).toMap
        if (dup.nonEmpty)
          println(s"[scancount] ${q.name}: " + dup.map { case (t, n) => s"$t x$n" }.mkString(", "))
      } catch { case e: Throwable =>
        println(s"[scancount] ${q.name}: ERROR ${e.getClass.getSimpleName}")
      }
    }

  /** Run each query `reps` times and print, from each run: its wall, the
    * [[StageProfile.Meter]] stage table, the heaviest jobs (eager
    * checkpoint jobs never appear in the final adaptive plan) and every
    * exchange's shuffle bytes and rows from the final adaptive plan.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Unit = {
    val sc = spark.sparkContext
    val stages = new StageProfile.Meter
    val jobs = new JobMeter
    sc.addSparkListener(stages)
    sc.addSparkListener(jobs)
    try names.foreach { n =>
      (1 to reps).foreach { r =>
        drainListenerBus(sc)
        stages.reset()
        jobs.reset()
        val t0 = System.nanoTime()
        val df = byName(n).spark(spark, sfDir)
        Materialize.force(df)
        val wall = (System.nanoTime() - t0) / 1e9
        drainListenerBus(sc)
        println(f"== $n rep $r/$reps wall=$wall%.2fs @ $sfDir ==")
        stages.table().foreach(println)
        jobs.heaviest(12).foreach(println)
        exchanges(df.queryExecution.executedPlan).foreach(println)
      }
    } finally {
      sc.removeSparkListener(stages)
      sc.removeSparkListener(jobs)
    }
  }

  /** Wall seconds and description of each job, per measured run. */
  private final class JobMeter extends SparkListener {
    private val starts = TrieMap[Int, (Long, String)]()
    private val done = ArrayBuffer[(Int, Double, String)]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      starts(j.jobId) = (System.nanoTime(),
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("").take(80))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      starts.remove(j.jobId).foreach { case (t0, d) =>
        done.synchronized { done += ((j.jobId, (System.nanoTime() - t0) / 1e9, d)) }
      }
    def reset(): Unit = done.synchronized(done.clear())
    def heaviest(top: Int): Seq[String] =
      done.synchronized(done.toSeq).sortBy(-_._2).take(top).map { case (id, sec, d) =>
        f"  job $id%3d $sec%7.2fs  $d"
      }
  }

  private def exchanges(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeExec =>
      val mb = e.metrics.get("shuffleBytesWritten").orElse(e.metrics.get("bytesWritten"))
        .map(_.value / 1e6).getOrElse(-1.0)
      val rows = e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(-1L)
      f"  exchange $mb%9.1f MB $rows%12d rows  <- ${e.child.nodeName}" +:
        e.children.flatMap(exchanges)
    case other => other.children.flatMap(exchanges)
  }

  /** Time each query on the sf lake and on a copy scaled by `factor`
    * (best of 2 each) and print the ratio — the local replica of the
    * driver's superlinearity gate for a subset (full run: Bench). A larger
    * factor (30, 100) extends the trend line. Each run also prints the
    * [[ScaleAudit]] hits of its final adaptive plan, and with `profile`
    * the [[StageProfile.Meter]] digest of the scaled run that produced the
    * reported minimum.
    */
  def smoke(spark: SparkSession, sfDir: String, names: Seq[String], factor: Int,
            profile: Boolean): Unit = {
    val sc = spark.sparkContext
    val meter = new ShuffleMeter
    val stageMeter = new StageProfile.Meter
    sc.addSparkListener(meter)
    if (profile) sc.addSparkListener(stageMeter)
    try {
      val scaled = ScaleSmoke.ensureScaled(spark, sfDir, factor = factor)
      names.foreach { n =>
        val fn = byName(n).spark
        // (best-of-2 seconds, last-run shuffle MB — bytes are
        // plan-deterministic, so they are the box-noise-free signal)
        def measure(d: String): (Double, Double, Seq[String], Seq[String]) = {
          var mb = 0.0
          var audit = Seq.empty[String]
          val runs = (1 to 2).map { _ =>
            if (profile) {
              drainListenerBus(sc)
              stageMeter.reset()
            }
            val b0 = meter.snapshot(sc)
            val t0 = System.nanoTime()
            // Materialize.force executes df's OWN plan fully and finalizes
            // its AdaptiveSparkPlan, so the audit walks the plan that RAN
            val df = fn(spark, d); Materialize.force(df)
            val sec = (System.nanoTime() - t0) / 1e9
            mb = (meter.snapshot(sc) - b0) / 1e6
            // the same final-plan cliff sweep the bench smoke emits
            audit = try ScaleAudit.audit(df.queryExecution.executedPlan)
            catch { case e: Throwable => Seq(s"AUDIT-ERROR: ${e.getMessage}") }
            val dig = if (profile) {
              drainListenerBus(sc)
              stageMeter.digest()
            } else Seq.empty[String]
            (sec, dig)
          }
          val best = runs.minBy(_._1)
          (best._1, mb, audit, best._2)
        }
        val (t1, mb1, a1, _) = measure(sfDir)
        val (t10, mb10, a10, dig10) = measure(scaled)
        println(f"[smoke] $n%-32s head=$t1%7.2fs x$factor%d=$t10%7.2fs ratio=${t10 / t1}%6.2f shuffleMB=$mb1%8.1f -> $mb10%8.1f")
        a10.foreach(h => println(s"[smoke]   audit@x$factor: $h"))
        a1.foreach(h => println(s"[smoke]   audit@head: $h"))
        dig10.foreach(l => println(s"[smoke]   profile@x$factor: $l"))
      }
    } finally {
      sc.removeSparkListener(meter)
      sc.removeSparkListener(stageMeter)
    }
  }

  /** [[ScaleAudit.audit]] of every smoke query's executed plan on the
    * scaled lake (a larger factor asks whether AQE makes the same
    * decisions further up the curve).
    */
  private def scaleAudit(spark: SparkSession, sfDir: String, factor: Int): Unit = {
    val scaled = ScaleSmoke.ensureScaled(spark, sfDir, factor = factor)
    ScaleSmoke.smokeQueries.foreach { name =>
      try {
        val df = byName(name).spark(spark, scaled)
        df.collect()
        val hits = ScaleAudit.audit(df.queryExecution.executedPlan)
        println(s"[scale-audit] $name: ${if (hits.nonEmpty) hits.mkString(" | ") else "clean"}")
      } catch { case e: Throwable =>
        println(s"[scale-audit] $name: ERROR ${String.valueOf(e.getMessage).take(120)}")
      }
    }
  }

  /** Best-of-3 seconds of each query with Bench's methodology: the same
    * warm-up, then `Materialize.force` three times.
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Double)] = {
    Bench.warmUp(spark, sfDir)
    try names.map { n =>
      spark.sparkContext.setJobDescription(s"lab: $n")
      n -> (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Materialize.force(byName(n).spark(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }.min
    } finally spark.sparkContext.setJobDescription(null)
  }
}
