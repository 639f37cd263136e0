package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":…,"value":…,"queries":{…},"sf":…}.
  * Each query is fully materialized via [[Materialize.force]] — the
  * query's OWN physical plan executed to completion, every output row
  * and column produced (a derived `count()` would let Catalyst prune
  * windows/sorts/aggregate values out of the measured plan — the r14
  * materializer defect; see Materialize's scaladoc).
  */
object Bench {

  /** Box-factor canary (VERDICT r15 task #4): 8 short catalog queries
    * spanning scan/join/window/shuffle/CPU, with their REFERENCE seconds
    * pinned from the committed r15 closing artifact (bench/bench_r15a
    * .json — same code, known box). Every bench run re-times them as part
    * of the headline pass (zero extra wall) and emits
    * `box_factor: {median, per_canary}`; a judge adjudicates "2–6×
    * regression or box drift?" from the artifact ALONE — uniform
    * per-canary factors ≈ the suspect ratio mean drift, factors ≈1 with
    * one query blown mean a real regression. bench_compare.py normalizes
    * by the canary drift automatically when both files carry it.
    */
  val CanaryRef: Seq[(String, Double)] = Seq(
    "q1_pricing_summary" -> 1.461, // parquet scan + wide agg
    "q3_shipping_priority" -> 1.023, // 3-way join
    "scd2_history" -> 0.407, // per-key window
    "window_rank_family" -> 0.541, // rank/frame window matrix
    "dedup_minhash_candidates" -> 0.553, // codegen kernel + band shuffle
    "text_tfidf_topterms" -> 1.233, // explode + two-level agg
    "bm25_topk" -> 1.232, // CPU scoring + group-limit
    "profile_numeric_sketch" -> 2.260) // CPU sketch (the r15 drift family)

  /** The lake the [[CanaryRef]] seconds were timed on. */
  val CanaryLake = "sf0.1"

  /** Warm the session (codegen compiler, parquet footer reads, shuffle
    * machinery) so the first measured query doesn't absorb JVM startup.
    */
  def warmUp(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
  }

  /** A Bench section: its result, the seconds spent building its input
    * lake, and the seconds it ran.
    */
  final case class Section[+T](result: T, buildS: Double, wallS: Double)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Build a section's input, then run the section on it; None when the
    * environment variable `flag` is "0".
    */
  private def section[L, T](flag: String)(build: => L)(run: L => T): Option[Section[T]] =
    if (sys.env.getOrElse(flag, "1") == "0") None
    else {
      val (input, buildS) = timed(build)
      val (r, wallS) = timed(run(input))
      Some(Section(r, buildS, wallS))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    val fns = SparkEntry.queries
    // best-of-3: the first execution of each distinct plan pays 0.3-2s of
    // Janino codegen compilation plus JIT warm-up that a second run only
    // partially absorbs (measured: several queries need 3 executions to
    // reach steady state); the minimum is the steady-state cost a real
    // deployment sees.
    val (headline, headlineS) = timed(RunMeter.using(spark) { meter =>
      SparkEntry.benchQueries.map(n => meter.best(n, 3)(fns(n)(spark, sfDir)))
    })
    // Scale smoke: the heaviest queries re-run on a 10x-scaled lake, each
    // paired with its sf0.1 headline in one contention window (see
    // ScaleSmoke.run); a ratio >> 10 flags superlinear cost that sf0.1
    // hides under the scheduling floor.
    val smoke = section("SPARK_GRAFT_SCALE_SMOKE")(ScaleSmoke.ensureScaled(spark, sfDir))(
      ScaleSmoke.run(spark, sfDir, _))
    // Hot-key stress gate: every skew-sensitive catalog plan runs paired on
    // the base lake and a 30%-hot-key variant; `stragglers: []` is the
    // clean bar.
    val skew = section("SPARK_GRAFT_SKEW_STRESS")(SkewStress.ensureSkewed(spark, sfDir))(
      SkewStress.run(spark, sfDir, _))
    // Streaming-throughput bar: the flagship transformWithState legs over
    // 20 real micro-batches each, plus a kill-and-resume recovery leg;
    // `below_floor: []` is the clean bar.
    val streaming = section("SPARK_GRAFT_STREAM_BENCH")(())(_ =>
      RunMeter.using(spark)(_.measure("streaming") {
        val scratch = "/tmp/graft_stream_tp"
        (Seq(StreamingThroughput.scd2Leg(spark, scratch),
          StreamingThroughput.lshLeg(spark, sfDir, scratch),
          StreamingThroughput.lshTtlLeg(spark, sfDir, scratch)),
          Some(StreamingThroughput.recoveryLeg(spark, scratch)))
      }))
    val (rec, failed) = record(sfDir, headline, headlineS, smoke, skew, streaming)
    val line = Json.write(rec)
    println(line)
    // full-artifact sink: the driver keeps only the tail of stdout, so the
    // complete per-query maps are lost to truncation unless ALSO written to
    // a file the round can commit (bench/bench_r<N>.json)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    // failures are explicit in the record (a dropped -1 would make the total
    // look FASTER) and fail the process, so no consumer can miss them
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The Bench record, and the names of everything that failed in it
    * (headline queries, smoke and skew probes, "streaming"). Key order is
    * part of the contract: `wall` and `worst10` are deliberately the FINAL
    * keys, because the driver keeps only the tail of stdout, so the
    * adjudicable numbers (wall-time breakdown and the worst smoke ratios
    * with their shuffle volume) must be the last bytes printed.
    */
  private[graft] def record(
      sfDir: String, headline: Seq[RunMeter.Run[Any]], headlineS: Double,
      smoke: Option[Section[Map[String, ScaleSmoke.SmokeMeasure]]],
      skew: Option[Section[Seq[(String, SkewStress.SkewMeasure)]]],
      streaming: Option[Section[RunMeter.Run[(Seq[StreamingThroughput.LegResult],
        Option[StreamingThroughput.RecoveryResult])]]]): (Map[String, Any], Seq[String]) = {
    import Json.{obj, round}
    val secs = headline.map(r => r.label -> r.seconds)
    val failed = headline.filter(_.failed).map(_.label)

    // Box-factor canary: measured/reference per canary (headline numbers
    // reused — no extra executions), median across the present ones. The
    // references were timed on the sf0.1 lake, so on any other lake the
    // ratio measures the lake, not the box: no canary is read there
    // (median -1.0, which leaves the floors unrelaxed).
    val measured = secs.toMap
    val perCanary = if (new java.io.File(sfDir).getName != CanaryLake) Nil
      else CanaryRef.flatMap { case (n, ref) => measured.get(n).filter(_ > 0).map(n -> _ / ref) }
    val canaryMedian = if (perCanary.isEmpty) -1.0 else {
      val s = perCanary.map(_._2).sorted
      s(s.size / 2)
    }
    // The skew gate's absolute seconds floors scale UP on a slow box (a
    // wall floor is time — slowness inflates it); the streaming rows/s
    // floors scale DOWN (throughput deflates). Both use the same clamped
    // relaxation [1, 3] — a fast box never tightens a pinned floor, and
    // an extreme canary reading cannot hide a genuine collapse
    // (PERF_NOTES r17; controls in SkewRulesSpec/StreamingThroughputSpec).
    val boxRelax = StreamingThroughput.floorRelax(canaryMedian)

    val smokeRatios = smoke.toSeq.flatMap(_.result.toSeq.sortBy(_._1).collect {
      case (k, m) if m.smokeS > 0 && m.headS > 0 => (k, m, m.smokeS / m.headS)
    })
    val smokeFailed = smoke.toSeq.flatMap(_.result.collect {
      case (k, m) if m.smokeS < 0 || m.headS < 0 => k
    }).sorted
    val smokeFields = smoke.toSeq.flatMap { s =>
      val byName = s.result.toSeq.sortBy(_._1)
      def per(f: ScaleSmoke.SmokeMeasure => Any) = obj(byName.map { case (k, m) => k -> f(m) }: _*)
      // a sub-second paired headline is scheduling-floor territory — its
      // ratio is noise amplified — so those queries are reported but exempt
      // from the superlinear gate; paired numbers share one contention
      // window, so the box-drift slack is 2x (linear would be <= Factor)
      val superlinear = smokeRatios.collect {
        case (k, m, r) if r > ScaleSmoke.Factor * 2 && m.headS >= 1.0 => k
      }
      val floorExempt = smokeRatios.collect { case (k, m, _) if m.headS < 1.0 => k }
      Seq("scale_smoke" -> obj("factor" -> ScaleSmoke.Factor, "build_sec" -> s.buildS,
        "queries" -> per(_.smokeS), "head_s" -> per(m => round(m.headS, 3)),
        "ratio_vs_headline" -> obj(smokeRatios.map { case (k, _, r) => k -> round(r, 2) }: _*),
        "shuffle_mb" -> per(m => round(m.shuffleMb, 1)),
        "superlinear" -> superlinear, "floor_exempt" -> floorExempt, "failed" -> smokeFailed),
        // runtime broadcast-cliff sweep of every smoke query's FINAL
        // adaptive plan; hits:[] is the clean bar
        "scale_audit" -> obj("hits" -> byName.flatMap { case (k, m) => m.audit.map(h => s"$k: $h") }))
    }

    val skewFailed = skew.toSeq.flatMap(_.result.collect {
      case (k, m) if m.baseS < 0 || m.skewS < 0 => k
    }).sorted
    val skewFields = skew.toSeq.map { s =>
      def per(f: SkewStress.SkewMeasure => Any) = obj(s.result.map { case (k, m) => k -> f(m) }: _*)
      "skew" -> obj("hot_permille" -> SkewStress.HotPermille, "build_s" -> round(s.buildS, 1),
        "floor_relax" -> round(boxRelax, 2), "base_s" -> per(m => round(m.baseS, 2)),
        "skew_s" -> per(m => round(m.skewS, 2)), "straggler_x" -> per(m => round(m.stragglerX, 1)),
        "hot_task_pct" -> per(m => round(m.hotTaskShare, 2)), "failed" -> skewFailed,
        "stragglers" -> s.result.collect {
          case (k, m) if SkewStress.isStraggler(m, floorScale = boxRelax) => k
        }.sorted)
    }

    val streamFailed = streaming.toSeq.filter(_.result.failed).map(_ => "streaming")
    val streamFields = streaming.toSeq.map(s => "streaming" -> s.result.result.fold(
      err => obj("failed" -> err),
      { case (legs, recovery) => StreamingThroughput.benchRecord(legs, recovery, boxRelax) }))

    val fields = Seq(
      "metric" -> "total", "value" -> secs.map(_._2).filter(_ >= 0).sum, "unit" -> "sec",
      "queries" -> obj(secs: _*),
      // per-query shuffle-write MB: bytes are plan-deterministic across
      // runs, so they are the box-noise-free signal next to seconds
      "shuffle_mb" -> obj(headline.map(r => r.label -> round(if (r.failed) -1.0 else r.shuffleMb, 1)): _*),
      "failed" -> failed,
      // exception class + message head per failed query, so a failed round
      // is diagnosable from the record alone
      "errors" -> obj(headline.flatMap(r => r.error.map(r.label -> _)): _*),
      "sf" -> sfDir) ++ smokeFields ++ skewFields ++ streamFields ++ Seq(
      "box_factor" -> obj("ref" -> "bench_r15a", "median" -> round(canaryMedian, 2),
        "per_canary" -> obj(perCanary.map { case (n, f) => n -> round(f, 2) }: _*),
        "missing" -> CanaryRef.collect { case (n, _) if !measured.get(n).exists(_ > 0) => n }),
      "wall" -> obj("headline_s" -> round(headlineS, 1),
        "smoke_s" -> round(smoke.fold(0.0)(_.wallS), 1),
        "lake_build_s" -> round(smoke.fold(0.0)(_.buildS), 1),
        "skew_s" -> round(skew.fold(0.0)(_.wallS), 1),
        "streaming_s" -> round(streaming.fold(0.0)(_.wallS), 1)),
      // worst-first compact digest of the smoke ratios with their paired
      // head_s: whatever the tail truncates, the 10 worst survive
      "worst10" -> smokeRatios.sortBy(-_._3).take(10).map { case (k, m, r) =>
        obj("q" -> k, "head_s" -> round(m.headS, 2), "smoke_s" -> round(m.smokeS, 2),
          "ratio" -> round(r, 2), "shuffle_mb" -> round(m.shuffleMb, 1))
      })
    (obj(fields: _*), failed ++ smokeFailed ++ skewFailed ++ streamFailed)
  }
}
