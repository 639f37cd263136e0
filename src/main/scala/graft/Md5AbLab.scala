package graft

import org.apache.spark.sql.functions._

/** Dev-only (r18): in-session A/B of the fused [[graft.functions.Md5Prefix]]
  * kernel against the legacy `conv(substring(md5(x), 1, 15), 16, 10)`
  * Column chain it replaced — the same interleaved best-of-3 noop-sink
  * discipline as the other labs, on the exact explode-per-shingle stream
  * the dedup family hashes. Both variants aggregate the ids to one row, so
  * the timed work is scan + explode + hash; the sums are asserted equal
  * (bit-identical ids) before timing is reported.
  *
  *   sbt 'runMain graft.Md5AbLab [sfDir]'
  */
object Md5AbLab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val docs = GraftSession.table(spark, sfDir, "documents")

    def legacy = docs
      .select(explode(graft.dedup.Dedup.shingleSet(col("text"), 3)).as("tok"))
      .select(conv(substring(md5(col("tok")), 1, 15), 16, 10)
        .cast("long").as("tid"))
      .agg(expr("bit_xor(tid)"), count(lit(1)))
    def fused = docs
      .select(explode(graft.dedup.Dedup.shingleSet(col("text"), 3)).as("tok"))
      .select(graft.functions.GraftFunctions.md5Prefix(col("tok"), 15).as("tid"))
      .agg(expr("bit_xor(tid)"), count(lit(1)))

    // equality first (also warms scan + codegen paths for both variants)
    val (lRow, fRow) = (legacy.head(), fused.head())
    require(lRow == fRow, s"id mismatch: $lRow vs $fRow")

    def time(mk: => org.apache.spark.sql.DataFrame, label: String): Double = {
      spark.sparkContext.setJobDescription(s"md5ab: $label")
      val t0 = System.nanoTime()
      Materialize.force(mk)
      (System.nanoTime() - t0) / 1e9
    }
    val runs = (1 to 3).map { _ => (time(legacy, "legacy"), time(fused, "fused")) }
    val (lBest, fBest) = (runs.map(_._1).min, runs.map(_._2).min)
    println(f"""{"legacy_best_s":$lBest%.3f,"fused_best_s":$fBest%.3f,""" +
      f""""speedup":${lBest / fBest}%.2f,""" +
      s""""legacy_runs":[${runs.map(r => f"${r._1}%.3f").mkString(",")}],""" +
      s""""fused_runs":[${runs.map(r => f"${r._2}%.3f").mkString(",")}]}""")
    spark.stop()
  }
}
