package graft

/** `graft.Diag` subcommands on the shared session. `smoke` and `plans` are
  * left out: they build a scaled lake or plan the whole catalog.
  */
class DiagSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  private val q = "q1_pricing_summary"

  private def stdout(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Diag.run(spark, args.toArray))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("explain prints the formatted and the AQE-final plan") {
    val out = stdout("explain", sf, q)
    assert(out.head == s"== $q @ $sf (before) ==")
    assert(out.contains("---- explain(formatted), pre-execution ----"))
    assert(out.contains("---- executed plan (AQE final) ----"))
    assert(out.exists(_.contains("AdaptiveSparkPlan isFinalPlan=true")), out.mkString("\n"))
  }

  test("scans and profile print one line or more per query") {
    assert(stdout("scans", sf, q, "1") == Seq(s"[scancount] $q: lineitem.parquet x1"))
    val prof = stdout("profile", sf, q, "1")
    assert(prof.head.startsWith(s"== $q rep 1/1 wall="))
    for (kind <- Seq("stage", "job", "exchange"))
      assert(prof.exists(_.trim.startsWith(kind)), s"no $kind line in:\n${prof.mkString("\n")}")
  }

  test("time returns a positive number of seconds per query") {
    val times = Diag.time(spark, sf, Seq(q))
    assert(times.map(_._1) == Seq(q))
    assert(times.head._2 > 0)
  }

  test("an unknown subcommand fails with the usage text") {
    val e = intercept[IllegalArgumentException](Diag.run(spark, Array("nope", sf)))
    assert(e.getMessage == Diag.Usage)
  }
}
