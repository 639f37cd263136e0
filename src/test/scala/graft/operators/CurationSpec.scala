package graft.operators

import graft.{SparkEntry, SparkSuite}

import org.apache.spark.sql.functions._

/** Semantic invariants for the curation/eval catalog entries — properties
  * the DuckDB oracle parity check cannot see (it would agree with a
  * same-shaped bug on both engines): the winnowing coverage guarantee and
  * tie rule, planted duplicated-span geometry, the CMS one-sided error
  * bound, and lift-table accounting identities.
  */
class CurationSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def docLake(rows: Seq[(Long, String)]): String = {
    val dir = SparkSuite.scratchDir("graft-curation")
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("dup_span_extraction: planted shared runs produce exactly the " +
      "planted spans, merged per island, and unique docs are absent") {
    // Disjoint filler vocabularies so no accidental cross-doc 8-grams.
    def filler(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val run1 = (0 until 20).map(i => s"shared$i").mkString(" ")   // 20 tokens
    val run2 = (0 until 9).map(i => s"also$i").mkString(" ")      //  9 tokens
    val a = s"${filler("a", 10)} $run1 ${filler("b", 10)} $run2 ${filler("c", 10)}"
    val b = s"${filler("d", 5)} $run1 ${filler("e", 12)} $run2"
    val c = filler("z", 40)
    val dir = docLake(Seq((1L, a), (2L, b), (3L, c)))

    val got = SparkEntry.queries("dup_span_extraction")(spark, dir)
      .select("doc_id", "n_dup_spans", "dup_tokens", "max_span_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)

    // Each doc shares run1 (20 tokens) and run2 (9 tokens), separated by
    // >8 unique tokens -> two islands; span widths equal the run widths
    // (first dup shingle starts the run, last starts at run_len - 8).
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    got.foreach { case (_, nSpans, dupToks, maxSpan) =>
      assert(nSpans == 2L)
      assert(dupToks == 29L)
      assert(maxSpan == 20L)
    }
  }

  test("dup_span_extraction: adjacent duplicated shingle runs merge into " +
      "one island (gap <= shingle width)") {
    val run = (0 until 16).map(i => s"s$i").mkString(" ")  // one 16-token run
    val dir = docLake(Seq(
      (1L, s"u0 u1 u2 $run u3 u4"),
      (2L, s"v0 $run v1 v2 v3")))
    val got = SparkEntry.queries("dup_span_extraction")(spark, dir)
      .select("doc_id", "n_dup_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect()
    got.foreach { case (_, nSpans, dupToks) =>
      assert(nSpans == 1L); assert(dupToks == 16L)
    }
  }

  test("winnowing_fingerprints: identical-hash runs take the RIGHTMOST " +
      "position per window (the MOSS tie rule) and density obeys the " +
      "[1/w, 1] coverage guarantee") {
    // All-identical tokens -> every shingle hash equal -> every window's
    // min is its rightmost member -> one distinct selection per window.
    val dir = docLake(Seq((1L, Seq.fill(12)("a").mkString(" "))))
    val row = SparkEntry.queries("winnowing_fingerprints")(spark, dir)
      .select("n_fingerprints", "n_windows", "density")
      .as[(Long, Long, Double)].collect().head
    assert(row._2 == 6L)           // 12 tokens -> 9 shingles -> 6 windows
    assert(row._1 == 6L)           // rightmost-tie: distinct pos per window
    assert(row._3 == 1.0)

    val real = SparkEntry.queries("winnowing_fingerprints")(spark, sf)
      .select("density").as[Double].collect()
    assert(real.nonEmpty)
    // Each selected position can serve at most w=4 windows -> density >=
    // 1/4; a selection per window caps it at 1.
    real.foreach(dens => assert(dens >= 0.25 && dens <= 1.0))
  }

  test("cms_frequency_audit: estimates are one-sided (est >= exact) and " +
      "bounded by the total token mass") {
    val total = graft.QueryDef.t(spark, sf, "documents")
      .agg(sum(size(split(col("text"), " "))).cast("long")).as[Long].collect().head
    val rows = SparkEntry.queries("cms_frequency_audit")(spark, sf)
      .select("n_exact", "n_est", "overcount").as[(Long, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (exact, est, over) =>
      assert(est >= exact)
      assert(over == est - exact)
      assert(est <= total)
    }
  }

  test("decile_lift_table: deciles partition users evenly, cum_capture is " +
      "monotone and ends at 1.0, and lift averages to 1") {
    val rows = SparkEntry.queries("decile_lift_table")(spark, sf)
      .select("decile", "n_users", "n_conv", "cum_capture", "lift")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 10L).toSeq)
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1L)
    val caps = rows.map(_._4)
    caps.sliding(2).foreach { case Array(x, y) => assert(y >= x); case _ => }
    assert(math.abs(caps.last - 1.0) < 1e-12)
    // sum over deciles of n_conv == conv_total (capture accounting).
    val convTotal = rows.map(_._3).sum
    val weighted = rows.map(r => r._5 * r._2).sum / sizes.sum.toDouble
    // lift weighted by decile size telescopes to 1 exactly in reals.
    assert(math.abs(weighted - 1.0) < 1e-9)
    assert(convTotal > 0L)
  }

  test("abtest_two_proportion_z and calibration bins: accounting adds up " +
      "against the raw events table") {
    val users = graft.QueryDef.t(spark, sf, "events")
      .select("user_id").distinct().count()
    val ab = SparkEntry.queries("abtest_two_proportion_z")(spark, sf)
      .select("n_a", "conv_a", "n_b", "conv_b", "z_score")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(ab._1 + ab._3 == users)
    assert(ab._2 <= ab._1 && ab._4 <= ab._3)
    assert(!ab._5.isNaN && !ab._5.isInfinite)

    val cal = SparkEntry.queries("calibration_reliability_bins")(spark, sf)
      .select("bin", "n_users", "mean_score", "emp_rate")
      .as[(Long, Long, Double, Double)].collect()
    assert(cal.map(_._2).sum == users)
    cal.foreach { case (bin, _, ms, er) =>
      assert(bin >= 0L && bin <= 9L)
      assert(ms >= bin / 10.0 - 1e-9 && ms <= (bin + 1) / 10.0 + 1e-9)
      assert(er >= 0.0 && er <= 1.0)
    }
    // Non-vacuous fixture: conversion must be strictly between 0 and 1
    // overall (the "any purchase ever" definition saturated to 1.0).
    val convRate = (ab._2 + ab._4).toDouble / users
    assert(convRate > 0.0 && convRate < 1.0)
  }

  test("drift_ks_statistic matches a driver-side brute-force KS on sf0.001") {
    val ev = graft.QueryDef.t(spark, sf, "events")
      .select(col("value"),
        expr("CAST(ts < TIMESTAMP_NTZ '2024-01-16 00:00:00' AS BOOLEAN)").as("isRef"))
      .as[(Double, Boolean)].collect()
    val ref = ev.filter(_._2).map(_._1).sorted
    val cur = ev.filterNot(_._2).map(_._1).sorted
    val points = (ref ++ cur).distinct.sorted
    def cdfCount(xs: Array[Double], v: Double): Long = xs.count(_ <= v).toLong
    val brute = points.map { v =>
      math.abs(cdfCount(ref, v) * cur.length.toLong -
        cdfCount(cur, v) * ref.length.toLong)
    }.max
    val row = SparkEntry.queries("drift_ks_statistic")(spark, sf)
      .select("ks_num", "tot_ref", "tot_cur", "ks")
      .as[(Long, Long, Long, Double)].collect().head
    assert(row._1 == brute)
    assert(row._2 == ref.length.toLong && row._3 == cur.length.toLong)
    assert(row._4 >= 0.0 && row._4 <= 1.0)
  }

  test("drift_psi_bins: every PSI term is non-negative (sign(p_c - p_r) " +
      "== sign(ln(p_c/p_r)))") {
    val terms = SparkEntry.queries("drift_psi_bins")(spark, sf)
      .select("psi_term_nano").as[Long].collect()
    assert(terms.nonEmpty)
    terms.foreach(tn => assert(tn >= 0L))
  }

  test("lang_source_mutual_info: MI is non-negative and cell counts " +
      "reconcile with the documents table") {
    val rows = SparkEntry.queries("lang_source_mutual_info")(spark, sf)
      .select("n", "mi_term_nano").as[(Long, Long)].collect()
    val nDocs = graft.QueryDef.t(spark, sf, "documents").count()
    assert(rows.map(_._1).sum == nDocs)
    // Σ mi_term = MI(lang; source) >= 0 up to nano-rounding of each cell.
    assert(rows.map(_._2).sum >= -rows.length.toLong)
  }

  test("graph_degree_assortativity is a correlation: r in [-1, 1]") {
    val r = SparkEntry.queries("graph_degree_assortativity")(spark, sf)
      .select("assortativity").as[Double].collect().head
    assert(r >= -1.0 && r <= 1.0)
  }

  test("lm_bigram_perplexity matches a driver-side brute-force add-1 " +
      "bigram LM on sf0.001") {
    import java.security.MessageDigest
    def permille(id: Long, salt: String): Long = {
      val md5 = MessageDigest.getInstance("MD5")
        .digest(s"$salt:$id".getBytes("UTF-8"))
      val hex = md5.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val docs = graft.QueryDef.t(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val (train, held) = docs.partition { case (id, _) => permille(id, "lm") < 800000L }
    def toks(t: String) = t.split(" ", -1).toSeq
    def bigrams(t: String) = toks(t).sliding(2).filter(_.size == 2)
      .map(_.mkString(" ")).toSeq
    val uni = train.flatMap(d => toks(d._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bg = train.flatMap(d => bigrams(d._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    val hoBg = held.flatMap(d => bigrams(d._2))
    def lpNano(b: String): Long = {
      val c12 = bg.getOrElse(b, 0L); val c1 = uni.getOrElse(b.split(" ")(0), 0L)
      BigDecimal(math.log((c12 + 1).toDouble / (c1 + v).toDouble) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val xentBrute = -hoBg.map(lpNano).sum
    val row = SparkEntry.queries("lm_bigram_perplexity")(spark, sf)
      .select("vocab_size", "n_heldout_bigrams", "xent_sum_nano", "ppl_micro")
      .as[(Long, Long, Long, Long)].collect().head
    assert(row._1 == v)
    assert(row._2 == hoBg.size.toLong)
    assert(row._3 == xentBrute)
    // ppl bounds: 1 <= ppl <= worst-case smoothed denominator
    val ppl = row._4 / 1e6
    assert(ppl >= 1.0 && ppl <= (train.map(d => toks(d._2).size).sum + v).toDouble)
  }

  test("distinct_ngram_diversity: ratios in (0, 1], distinct <= total") {
    val rows = SparkEntry.queries("distinct_ngram_diversity")(spark, sf)
      .select("n_total", "n_distinct", "diversity")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tot, dis, div) =>
      assert(dis >= 1L && dis <= tot)
      assert(div > 0.0 && div <= 1.0)
    }
  }

  test("path_regex_funnel: match counts bounded by the sessionize-" +
      "consistent session count") {
    val nSessions = SparkEntry.queries("events_sessionize")(spark, sf)
      .select("user_id", "session_seq").distinct().count()
    val rows = SparkEntry.queries("path_regex_funnel")(spark, sf)
      .select("pattern", "n_sessions", "n_match")
      .as[(String, Long, Long)].collect()
    assert(rows.length == 4)
    rows.foreach { case (_, ns, m) =>
      assert(ns == nSessions)
      assert(m >= 0L && m <= ns)
    }
  }

  test("weighted_reservoir_sample matches a driver-side brute-force A-Res " +
      "selection on sf0.001") {
    import java.security.MessageDigest
    def permille(id: Long, salt: String): Long = {
      val md5 = MessageDigest.getInstance("MD5")
        .digest(s"$salt:$id".getBytes("UTF-8"))
      val hex = md5.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val docs = graft.QueryDef.t(spark, sf, "documents")
      .select("source", "doc_id", "n_chars").as[(String, Long, Long)].collect()
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.toSeq.map { case (_, id, w) =>
        val keyNano = BigDecimal(
          math.log((permille(id, "res") + 1).toDouble / 1e6) / w.toDouble * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (src, id, keyNano)
      }.sortBy { case (_, id, k) => (-k, id) }.take(3).zipWithIndex
        .map { case ((s2, id, k), i) => (s2, id, k, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("weighted_reservoir_sample")(spark, sf)
      .select("source", "doc_id", "key_nano", "rk")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("k_anonymity_audit matches a direct equivalence-class recount") {
    val docs = graft.QueryDef.t(spark, sf, "documents")
    val classes = docs.groupBy(col("lang"), col("source"),
        expr("n_chars div 100")).count()
      .select("count").as[Long].collect()
    val row = SparkEntry.queries("k_anonymity_audit")(spark, sf)
      .select("k_min", "n_classes", "n_classes_lt5", "n_docs_at_risk")
      .as[(Long, Long, Long, Long)].collect().head
    assert(row._1 == classes.min)
    assert(row._2 == classes.length.toLong)
    assert(row._3 == classes.count(_ < 5L).toLong)
    assert(row._4 == classes.filter(_ < 5L).sum)
  }

  test("data_freshness_audit: day accounting is internally consistent " +
      "and totals reconcile") {
    val nEvents = graft.QueryDef.t(spark, sf, "events").count()
    val rows = SparkEntry.queries("data_freshness_audit")(spark, sf)
      .select("n_events", "n_active_days", "span_days", "missing_days")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sum == nEvents)
    rows.foreach { case (n, active, span, missing) =>
      assert(n > 0L && active >= 1L)
      assert(active <= span)
      assert(missing == span - active && missing >= 0L)
    }
  }

  /** Calendar-dense daily counts (silent days as 0) from a lake dir. */
  private def denseDaily(dir: String): Array[Double] = {
    val rows = graft.QueryDef.t(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("day")).count()
      .select(col("day").cast("string"), col("count"))
      .as[(String, Long)].collect()
      .map { case (d, c) => (java.time.LocalDate.parse(d).toEpochDay, c) }.toMap
    val (lo, hi) = (rows.keys.min, rows.keys.max)
    (lo to hi).map(e => rows.getOrElse(e, 0L).toDouble).toArray
  }

  private def bruteAcf(daily: Array[Double], k: Int): Double = {
    val n = daily.length
    val mu = daily.sum / n
    val num = (0 until n - k).map(i => (daily(i) - mu) * (daily(i + k) - mu)).sum
    val den = daily.map(x => (x - mu) * (x - mu)).sum
    num / den
  }

  test("acf_daily_events matches a driver-side brute-force ACF and obeys " +
      "|r| <= 1 (Cauchy-Schwarz)") {
    val daily = denseDaily(sf)
    assert(daily.length >= 4)
    val rows = SparkEntry.queries("acf_daily_events")(spark, sf)
      .select("lag", "acf").as[(Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    rows.foreach { case (k, r) =>
      val b = bruteAcf(daily, k.toInt)
      assert(math.abs(r - b) < 1e-9, s"lag $k: $r vs $b")
      assert(r >= -1.0 && r <= 1.0)
    }
  }

  test("acf_daily_events densifies silent calendar days to zero before " +
      "pairing lags (lag-1 never spans a gap)") {
    // events on days 0,1,3,4 (day 2 silent) with distinct counts — the
    // dense series is [1,2,0,3,4]-scaled; an active-days-only lag would
    // pair day1 with day3 and report a different r(1).
    val dir = SparkSuite.scratchDir("graft-acf")
    val base = java.time.LocalDate.of(2024, 3, 1)
    val rows = Seq(0 -> 1, 1 -> 2, 3 -> 3, 4 -> 4).flatMap { case (d, cnt) =>
      (0 until cnt).map { i =>
        (java.sql.Timestamp.valueOf(base.plusDays(d).atTime(6 + i, 0)),
          (d * 10 + i).toLong)
      }
    }
    rows.toDF("ts", "event_id").write.parquet(s"$dir/events.parquet")
    val dense = Array(1.0, 2.0, 0.0, 3.0, 4.0)
    val got = SparkEntry.queries("acf_daily_events")(spark, dir)
      .select("lag", "n_days", "acf").as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.head._2 == 5L) // 5 calendar days, not 4 active days
    got.foreach { case (k, _, r) =>
      assert(math.abs(r - bruteAcf(dense, k.toInt)) < 1e-9)
    }
  }

  test("ar2_yulewalker_fit: phi solves the Toeplitz system exactly and " +
      "r1/r2 agree with acf_daily_events") {
    val row = SparkEntry.queries("ar2_yulewalker_fit")(spark, sf).head()
    val (r1, r2) = (row.getAs[Double]("r1"), row.getAs[Double]("r2"))
    val (p1, p2) = (row.getAs[Double]("phi1"), row.getAs[Double]("phi2"))
    // Yule-Walker: r1 = phi1 + phi2*r1, r2 = phi1*r1 + phi2 — holds iff
    // the closed-form 2x2 solve is right, independent of moment code.
    assert(math.abs(r1 - (p1 + p2 * r1)) < 1e-12, s"YW eq1: $r1 vs ${p1 + p2 * r1}")
    assert(math.abs(r2 - (p1 * r1 + p2)) < 1e-12, s"YW eq2: $r2 vs ${p1 * r1 + p2}")
    // same moments as the ACF card: its lag-1/lag-2 values must match
    val acf = SparkEntry.queries("acf_daily_events")(spark, sf)
      .select("lag", "acf").as[(Long, Double)].collect().toMap
    assert(math.abs(r1 - acf(1L)) < 1e-12 && math.abs(r2 - acf(2L)) < 1e-12,
      s"AR(2) r-moments diverge from acf_daily_events: ($r1,$r2) vs $acf")
    // the fit must explain variance, never create it
    val ivr = row.getAs[Double]("innov_var_ratio")
    assert(ivr > 0.0 && ivr <= 1.0 + 1e-12, s"innovation variance ratio $ivr")
  }

  test("naive_bayes_train: rank rides exact in-class counts and the " +
      "smoothed odds replay from independently-grouped counts") {
    val out = SparkEntry.queries("naive_bayes_train")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getAs[Double]("odds")))
    val perLang = out.groupBy(_._1)
    perLang.foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length),
        s"$lang ranks must be 1..${rows.length}")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
        case _ => true
      }, s"$lang must be ordered by n_lt desc, token asc")
    }
    // replay one row's odds from scratch: group the corpus independently
    val toks = graft.QueryDef.t(spark, sf, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val (lang0, _, tok0, nLt0, odds0) = out.head
    val nLt = toks.count(t => t._1 == lang0 && t._2 == tok0).toLong
    val nT = toks.count(_._2 == tok0).toLong
    val nL = toks.count(_._1 == lang0).toLong
    val g = toks.length.toLong
    val v = toks.map(_._2).distinct.length.toLong
    assert(nLt == nLt0, s"in-class count: $nLt vs $nLt0")
    val expected = ((nLt + 1).toDouble * (g - nL + v).toDouble) /
      ((nT - nLt + 1).toDouble * (nL + v).toDouble)
    assert(math.abs(odds0 - expected) < 1e-12 * expected,
      s"odds for ($lang0,$tok0): $odds0 vs $expected")
  }

  test("hybrid_rrf_fusion: ppm scores decompose into the two exact " +
      "integer-division rank contributions") {
    val rows = SparkEntry.queries("hybrid_rrf_fusion")(spark, sf)
      .select("doc_id", "rank_a", "rank_b", "rrf_ppm")
      .as[(Long, Option[Long], Option[Long], Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (_, ra, rb, ppm) =>
      ra.foreach(r => assert(r >= 1L && r <= 50L))
      rb.foreach(r => assert(r >= 1L && r <= 50L))
      val expect = ra.map(r => 1000000L / (60L + r)).getOrElse(0L) +
        rb.map(r => 1000000L / (60L + r)).getOrElse(0L)
      assert(ppm == expect)
      assert(ra.nonEmpty || rb.nonEmpty)
    }
    // the fused head must outrank a tail-of-one-list score
    assert(rows.map(_._4).max >= 1000000L / 61L)
  }
}
