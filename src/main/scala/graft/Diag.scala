package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

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
        println(Json.write(Json.obj("queries" -> Json.obj(time(spark, sfDir, required(2))
          .map { case (k, v) => k -> Json.round(v, 3) }: _*))))
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
    * per-stage task table, the heaviest jobs (eager checkpoint jobs never
    * appear in the final adaptive plan) and every exchange's shuffle bytes
    * and rows from the final adaptive plan.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Unit =
    RunMeter.using(spark) { meter =>
      names.foreach { n =>
        (1 to reps).foreach { r =>
          val run = meter.query(n)(byName(n).spark(spark, sfDir))
          println(f"== $n rep $r/$reps wall=${run.seconds}%.2fs @ $sfDir ==")
          run.error.foreach(e => println(s"  failed: $e"))
          stageTable(run).foreach(println)
          run.jobs.sortBy(-_.seconds).take(12).foreach { j =>
            println(f"  job ${j.id}%3d ${j.seconds}%7.2fs  ${j.description.take(80)}")
          }
          run.result.foreach(df => exchanges(df.queryExecution.executedPlan).foreach(println))
        }
      }
    }

  private def byTaskTime(run: RunMeter.Run[Any]): Seq[(Int, RunMeter.StageAgg)] =
    run.stages.toSeq.sortBy(-_._2.sumMs)

  /** A header plus one line per stage, heaviest (by task-time sum) first. */
  private def stageTable(run: RunMeter.Run[Any]): Seq[String] = {
    val header = f"${"stage"}%7s ${"tasks"}%6s ${"sum_s"}%8s ${"max_s"}%7s " +
      f"${"med_s"}%7s ${"gc%"}%5s ${"spill"}%8s ${"sh_rd"}%8s ${"sh_wr"}%8s ${"input"}%8s"
    header +: byTaskTime(run).map { case (id, a) =>
      f"$id%7d ${a.n}%6d ${a.sumMs / 1000.0}%8.2f ${a.maxMs / 1000.0}%7.2f " +
        f"${a.medMs / 1000.0}%7.2f ${a.gcPct}%5.1f ${a.spillMb}%7.0fM ${a.shufReadMb}%7.0fM " +
        f"${a.shufWriteMb}%7.0fM ${a.inputMb}%7.0fM"
    }
  }

  /** One line per stage for the heaviest `top` stages — the compact digest
    * `smoke --profile` prints for each query.
    */
  private def stageDigest(run: RunMeter.Run[Any], top: Int = 3): Seq[String] =
    byTaskTime(run).take(top).map { case (id, a) =>
      f"stage $id: tasks=${a.n} sum=${a.sumMs / 1000.0}%.1fs " +
        f"max/med=${a.maxMs / 1000.0}%.2f/${a.medMs / 1000.0}%.2fs " +
        f"gc=${a.gcPct}%.1f%% spill=${a.spillMb}%.0fM " +
        f"sh_rd=${a.shufReadMb}%.0fM sh_wr=${a.shufWriteMb}%.0fM " +
        f"input=${a.inputMb}%.0fM"
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
    * factor (30, 100) extends the trend line. Each side also prints the
    * [[ScaleAudit]] hits of its final adaptive plan, and with `profile`
    * the stage digest of the scaled run that produced the reported
    * minimum.
    */
  def smoke(spark: SparkSession, sfDir: String, names: Seq[String], factor: Int,
            profile: Boolean): Unit = {
    val scaled = ScaleSmoke.ensureScaled(spark, sfDir, factor = factor)
    RunMeter.using(spark) { meter =>
      names.foreach { n =>
        val fn = byName(n).spark
        val head = meter.best(n, 2)(fn(spark, sfDir))
        val big = meter.best(n, 2)(fn(spark, scaled))
        println(f"[smoke] $n%-32s head=${head.seconds}%7.2fs x$factor%d=${big.seconds}%7.2fs " +
          f"ratio=${big.seconds / head.seconds}%6.2f shuffleMB=${head.shuffleMb}%8.1f -> ${big.shuffleMb}%8.1f")
        Seq(head, big).flatMap(_.error).foreach(e => println(s"[smoke]   failed: $e"))
        ScaleSmoke.audit(big).foreach(h => println(s"[smoke]   audit@x$factor: $h"))
        ScaleSmoke.audit(head).foreach(h => println(s"[smoke]   audit@head: $h"))
        if (profile) stageDigest(big).foreach(l => println(s"[smoke]   profile@x$factor: $l"))
      }
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
    * warm-up, then `Materialize.force` three times (-1.0 for a query that
    * failed).
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Double)] = {
    Bench.warmUp(spark, sfDir)
    RunMeter.using(spark)(meter => names.map(n => n -> meter.best(n, 3)(byName(n).spark(spark, sfDir)).seconds))
  }
}
