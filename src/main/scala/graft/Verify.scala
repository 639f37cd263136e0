package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Every query runs through [[RunMeter.measure]]; `verify_summary.json`
  * records each query's status, seconds and, for a failure, the exception
  * class and message head. The last stdout line is
  * `[verify] <n> pass, <m> fail[: names]`, and the process exits 1 when
  * any query failed.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: regex over query names, for fast single-query
    // debugging (`runMain graft.Verify <sf> <out> 'knn.*'`). The driver
    // always calls with two args → full catalog.
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter = if (args.length > 2) args(2).r else ".*".r
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val runs = RunMeter.using(spark) { meter =>
      SparkEntry.queries.filter(kv => nameFilter.matches(kv._1)).toSeq.map { case (name, fn) =>
        meter.measure(name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
      }
    }.sortBy(_.label)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter(kv => nameFilter.matches(kv._1))))
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), Json.write(summary(runs)))
    spark.stop()
    val failed = runs.filter(_.failed).map(_.label)
    println(s"[verify] ${runs.size - failed.size} pass, ${failed.size} fail" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    if (failed.nonEmpty) sys.exit(1)
  }

  /** `{"pass":n,"fail":m,"queries":{name:{"status","seconds"[,"error"]}}}`. */
  private[graft] def summary(runs: Seq[RunMeter.Run[Any]]): Map[String, Any] = {
    import Json.{obj, round}
    obj("pass" -> runs.count(!_.failed), "fail" -> runs.count(_.failed),
      "queries" -> obj(runs.map { r =>
        r.label -> obj(Seq("status" -> (if (r.failed) "fail" else "pass"),
          "seconds" -> round(r.seconds, 3)) ++ r.error.map("error" -> _): _*)
      }: _*))
  }
}
