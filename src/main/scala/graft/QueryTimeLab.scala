package graft

/** Dev-only (r18): time a named subset of catalog queries with EXACTLY the
  * Bench main's methodology (same session conf, same warm-up, same
  * Materialize.force best-of-3) — the focused A/B harness behind the
  * r17-snapshot pin reverts (sim_ivfpq_residual_topk, topk_similar_per_doc,
  * embedding_outlier_screen) and the bench-segment contamination check.
  * Prints one JSON line {"queries": {name: best_of_3_sec, ...}}.
  *
  *   SPARK_GRAFT_QUERIES=a,b,c sbt 'runMain graft.QueryTimeLab [sfDir]'
  */
object QueryTimeLab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(names.nonEmpty, "set SPARK_GRAFT_QUERIES=name1,name2,...")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
    val fns = SparkEntry.queries
    val results = names.map { name =>
      spark.sparkContext.setJobDescription(s"lab: $name")
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Materialize.force(fns(name)(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }.min
      name -> best
    }
    println(results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{\"queries\":{", ",", "}}"))
    spark.stop()
  }
}
