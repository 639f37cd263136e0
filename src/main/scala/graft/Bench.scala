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

  /** Warm the session (codegen compiler, parquet footer reads, shuffle
    * machinery) so the first measured query doesn't absorb JVM startup.
    */
  def warmUp(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    val fns = SparkEntry.queries
    // Materialize.force executes each query's OWN plan (r14: the old
    // .count() materializer planned a derived aggregate whose optimization
    // pruned pure-window plans down to an empty-schema scan and dropped
    // final sorts — the window family was never being measured; see
    // Materialize's scaladoc).
    // best-of-3: the first execution of each distinct plan pays 0.3-2s of
    // Janino codegen compilation plus JIT warm-up that a second run only
    // partially absorbs (measured: several queries need 3 executions to
    // reach steady state); the minimum is the steady-state cost a real
    // deployment sees.
    // Failure diagnostics live in the JSON itself (exception class +
    // message head per failed query), so an rc=1 round is diagnosable
    // from BENCH_r*.json alone without the stderr log (VERDICT r6).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query shuffle-write MB (r10 verdict task #3): measured on the
    // last of the three runs — bytes are plan-deterministic across runs,
    // and the drain in snapshot() keeps each delta on the right query
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val shuffleMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val headlineWall0 = System.nanoTime()
    val results = SparkEntry.benchQueries.map { name =>
      val times = (1 to 3).map { _ =>
        val s0 = meter.snapshot(spark.sparkContext)
        val t0 = System.nanoTime()
        try {
          Materialize.force(fns(name)(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          shuffleMb(name) = (meter.snapshot(spark.sparkContext) - s0) / 1e6
          sec
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors(name) =
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
          -1.0 // failure marker — must not masquerade as a fast run
        }
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val headlineWallSec = (System.nanoTime() - headlineWall0) / 1e9
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val shufJson = results.map { case (k, _) =>
      "\"" + k + "\":" + f"${shuffleMb.getOrElse(k, -1.0)}%.1f"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // Scale smoke (opt out with SPARK_GRAFT_SCALE_SMOKE=0): heaviest
    // queries re-run on a 10x-scaled lake; ratio >> 10 flags superlinear
    // cost that sf0.1 hides under the scheduling floor. Smoke failures
    // fail the process just like headline failures — a query that only
    // breaks at 10x is exactly the regression class the smoke exists to
    // catch (ADVICE r3).
    val (smokeJson, smokeFailed, worst10Json, smokeWallSec, buildWallSec) =
      if (sys.env.getOrElse("SPARK_GRAFT_SCALE_SMOKE", "1") != "0") {
      val tb0 = System.nanoTime()
      val scaledDir = ScaleSmoke.ensureScaled(spark, sfDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val ts0 = System.nanoTime()
      // paired timings: each query's sf0.1 headline is re-timed
      // immediately before its 10x run so numerator and denominator share
      // one contention window (VERDICT r12 task #1 — in r12 the two
      // phases ran ~40 driver-minutes apart and box drift manufactured
      // ten worst10 entries, none of which reproduced locally)
      val smoke = ScaleSmoke.run(spark, sfDir, scaledDir, Some(meter))
      val smokeSec = (System.nanoTime() - ts0) / 1e9
      val smokeShufJson = smoke.toSeq.sortBy(_._1)
        .map { case (k, m) => "\"" + k + "\":" + f"${m.shuffleMb}%.1f" }
        .mkString("{", ",", "}")
      val ratios = smoke.collect { case (k, m) if m.smokeS > 0 && m.headS > 0 =>
        k -> m.smokeS / m.headS
      }
      // ratio-gate floor policy (VERDICT r12 task #6): a sub-second
      // paired headline is scheduling-floor territory — its ratio is
      // noise amplified (kcore at 0.56 s read 17.6x on the r12 driver,
      // 3.3x quiet-box) — so those queries are reported (seconds +
      // shuffle + ratio) but exempt from the superlinear gate, the
      // window_sliding_distinct precedent generalized.
      val floorExempt = ratios.keys.filter(k => smoke(k).headS < 1.0).toSeq.sorted
      // paired numbers share one contention window, so the old *2.5
      // box-drift slack tightens to *2 (linear would be <= Factor)
      val superlinear = ratios.collect {
        case (k, r) if r > ScaleSmoke.Factor * 2 && smoke(k).headS >= 1.0 => k
      }
      val sFailed = smoke.collect {
        case (k, m) if m.smokeS < 0 || m.headS < 0 => k
      }.toSeq.sorted
      val sq = smoke.toSeq.sortBy(_._1).map { case (k, m) => "\"" + k + "\":" + m.smokeS }
        .mkString("{", ",", "}")
      val hq = smoke.toSeq.sortBy(_._1)
        .map { case (k, m) => "\"" + k + "\":" + f"${m.headS}%.3f" }
        .mkString("{", ",", "}")
      val rq = ratios.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
      val sl = superlinear.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val fe = floorExempt.map("\"" + _ + "\"").mkString("[", ",", "]")
      val sf = sFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
      // runtime broadcast-cliff sweep of every smoke query's FINAL
      // adaptive plan (VERDICT r12 task #5): the class ScaleAudit catches
      // only exists at 10x, so CI can't see it; hits:[] is the clean bar
      val auditHits = smoke.toSeq.sortBy(_._1).flatMap { case (k, m) =>
        m.audit.map(h => jstr(s"$k: $h"))
      }
      val auditJson = s""","scale_audit":{"hits":${auditHits.mkString("[", ",", "]")}}"""
      // worst-first compact digest, re-emitted as the LAST key of the
      // output line: the driver stores only the tail of stdout, and the
      // r11 artifact's alphabetical ratio map lost its head — including
      // the one ratio that round's done-bar needed (VERDICT r11 task #1).
      // Whatever gets truncated, the 10 worst ratios survive — now with
      // the paired head_s alongside smoke_s (VERDICT r12 done-bar).
      val worst = ratios.toSeq.sortBy(-_._2).take(10).map { case (k, r) =>
        s"""{"q":"$k","head_s":${f"${smoke(k).headS}%.2f"},"smoke_s":${f"${smoke(k).smokeS}%.2f"},"ratio":${f"$r%.2f"},"shuffle_mb":${f"${smoke(k).shuffleMb}%.1f"}}"""
      }.mkString("[", ",", "]")
      (s""","scale_smoke":{"factor":${ScaleSmoke.Factor},"build_sec":$buildSec,"queries":$sq,"head_s":$hq,"ratio_vs_headline":$rq,"shuffle_mb":$smokeShufJson,"superlinear":$sl,"floor_exempt":$fe,"failed":$sf}$auditJson""",
        sFailed, worst, smokeSec, buildSec)
    } else ("", Seq.empty[String], "[]", 0.0, 0.0)

    // Box-factor canary (moved ahead of the skew/streaming sections in
    // r17: their absolute floors are normalized by it — VERDICT r16 task
    // #3): measured/reference per canary (headline numbers reused — no
    // extra executions), median across the present ones.
    val resMap = results.toMap
    val perCanary = CanaryRef.flatMap { case (n, ref) =>
      resMap.get(n).filter(_ > 0).map(n -> _ / ref)
    }
    val canaryMissing = CanaryRef.collect {
      case (n, _) if !resMap.get(n).exists(_ > 0) => n
    }
    val canaryMedian = if (perCanary.isEmpty) -1.0 else {
      val s = perCanary.map(_._2).sorted
      s(s.size / 2)
    }
    val canaryJson = {
      val per = perCanary.map { case (n, f) => "\"" + n + "\":" + f"$f%.2f" }
        .mkString("{", ",", "}")
      val miss = canaryMissing.map("\"" + _ + "\"").mkString("[", ",", "]")
      s""","box_factor":{"ref":"bench_r15a","median":${f"$canaryMedian%.2f"},"per_canary":$per,"missing":$miss}"""
    }
    // The skew gate's absolute seconds floors scale UP on a slow box (a
    // wall floor is time — slowness inflates it); the streaming rows/s
    // floors scale DOWN (throughput deflates). Both use the same clamped
    // relaxation [1, 3] — a fast box never tightens a pinned floor, and
    // an extreme canary reading cannot hide a genuine collapse
    // (PERF_NOTES r17; controls in SkewRulesSpec/StreamingThroughputSpec).
    val boxRelax = StreamingThroughput.floorRelax(canaryMedian)

    // Hot-key stress gate (VERDICT r13 task #1; opt out with
    // SPARK_GRAFT_SKEW_STRESS=0): every skew-sensitive catalog plan runs
    // paired on the base lake and a 30%-hot-key variant; `stragglers: []`
    // is the clean bar, and any regression toward the quadratic-join class
    // SkewStress caught twice in r13 (multi_touch 22.9 s, funnel 96 s)
    // re-flags every round instead of waiting for a hand-run sweep. Probe
    // failures fail the process like headline/smoke failures.
    val (skewJson, skewFailed, skewWallSec) =
      if (sys.env.getOrElse("SPARK_GRAFT_SKEW_STRESS", "1") != "0") {
        val tb0 = System.nanoTime()
        val skewedDir = SkewStress.ensureSkewed(spark, sfDir)
        val buildSec = (System.nanoTime() - tb0) / 1e9
        val ts0 = System.nanoTime()
        val rs = SkewStress.run(spark, sfDir, skewedDir)
        val wallSec = (System.nanoTime() - ts0) / 1e9
        val baseJ = rs.map { case (k, m) => "\"" + k + "\":" + f"${m.baseS}%.2f" }
          .mkString("{", ",", "}")
        val skewJ = rs.map { case (k, m) => "\"" + k + "\":" + f"${m.skewS}%.2f" }
          .mkString("{", ",", "}")
        val stragJ = rs.map { case (k, m) => "\"" + k + "\":" + f"${m.stragglerX}%.1f" }
          .mkString("{", ",", "}")
        val hotJ = rs.map { case (k, m) => "\"" + k + "\":" + f"${m.hotTaskShare}%.2f" }
          .mkString("{", ",", "}")
        val flagged = rs.collect {
          case (k, m) if SkewStress.isStraggler(m, floorScale = boxRelax) => k
        }
        val sFailed = rs.collect { case (k, m) if m.baseS < 0 || m.skewS < 0 => k }
        val flagJ = flagged.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        val failJ = sFailed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        (s""","skew":{"hot_permille":${SkewStress.HotPermille},"build_s":${f"$buildSec%.1f"},"floor_relax":${f"$boxRelax%.2f"},"base_s":$baseJ,"skew_s":$skewJ,"straggler_x":$stragJ,"hot_task_pct":$hotJ,"failed":$failJ,"stragglers":$flagJ}""",
          sFailed, wallSec)
      } else ("", Seq.empty[String], 0.0)

    // Streaming-throughput bar (VERDICT r15 task #1; opt out with
    // SPARK_GRAFT_STREAM_BENCH=0): the two flagship transformWithState
    // legs (SCD2 incremental, LSH at-ingest dedup) run over 20 real
    // micro-batches each; the tail reports rows/s + batch p50/p95 + final
    // vs expected state rows, and `below_floor: []` is the clean bar —
    // a leg under its pinned rows/s floor or whose converged state-row
    // count drifts from the batch-expected distinct keys re-flags every
    // round (a state leak is invisible to the correctness replay, which
    // only checks converged OUTPUT). A leg that throws fails the process
    // like headline failures.
    val (streamJson, streamFailed, streamWallSec) =
      if (sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH", "1") != "0") {
        val t0 = System.nanoTime()
        try {
          val legs = Seq(
            StreamingThroughput.scd2Leg(spark, "/tmp/graft_stream_tp"),
            StreamingThroughput.lshLeg(spark, sfDir, "/tmp/graft_stream_tp"),
            StreamingThroughput.lshTtlLeg(spark, sfDir, "/tmp/graft_stream_tp"))
          val recovery = Some(StreamingThroughput.recoveryLeg(spark, "/tmp/graft_stream_tp"))
          (s""","streaming":${StreamingThroughput.benchJson(legs, recovery, boxRelax)}""",
            Seq.empty[String], (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] streaming leg failed: ${e.getMessage}")
          (s""","streaming":{"failed":${jstr(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")}}""",
            Seq("streaming"), (System.nanoTime() - t0) / 1e9)
        }
      } else ("", Seq.empty[String], 0.0)

    // failures are explicit in the JSON (a filtered-out -1 would make the
    // total look FASTER) and fail the process so no consumer can miss them
    val errorsJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    // `wall` and `worst10` are deliberately the FINAL keys: the driver
    // keeps only the tail of stdout, so the adjudicable numbers (wall-time
    // breakdown + worst smoke ratios with their shuffle volume) must be
    // the last bytes this process prints (VERDICT r11 task #1).
    val wallJson = f""""wall":{"headline_s":$headlineWallSec%.1f,"smoke_s":$smokeWallSec%.1f,"lake_build_s":$buildWallSec%.1f,"skew_s":$skewWallSec%.1f,"streaming_s":$streamWallSec%.1f}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_mb":$shufJson,"failed":$failedJson,"errors":$errorsJson,"sf":"$sfDir"$smokeJson$skewJson$streamJson$canaryJson,$wallJson,"worst10":$worst10Json}"""
    println(line)
    // full-artifact sink (VERDICT r12 task #3): the driver keeps only the
    // tail of stdout, so the complete per-query maps are lost to
    // truncation unless ALSO written to a file the round can commit
    // (bench/bench_r<N>.json) — set SPARK_GRAFT_BENCH_OUT to a path.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    if (failed.nonEmpty || smokeFailed.nonEmpty || skewFailed.nonEmpty ||
      streamFailed.nonEmpty) sys.exit(1)
  }
}
