package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-key stress gate: measure how every skew-sensitive catalog plan
  * behaves on a HOT-KEY lake — the one scale hazard the uniform 10×/100×
  * lakes cannot exhibit (their copies multiply keys, never key mass).
  * Production data is never uniform: one tracked user, one house-brand
  * supplier, one commodity part, one enterprise customer can own a
  * double-digit share of a 100 TB fact table, and the failure mode is not
  * shuffle VOLUME but either a straggler (one task serializing a
  * partition-sized key group while 999 executors idle) or — the killer
  * class this instrument caught twice in r13 — a join that is QUADRATIC in
  * key mass (multi_touch_attribution 22.9 s, window_funnel_depth 96 s at a
  * 30% hot share, both fixed).
  *
  * As of r14 this is a GRADED gate, not a dev probe: [[graft.Bench]] runs
  * [[run]] over [[probes]] (every catalog query whose plan shuffles,
  * windows, or joins on one of the five skewed axes) and emits a
  * `"skew":{...,"stragglers":[...]}` summary into its JSON tail exactly
  * like `scale_audit` — `stragglers: []` is the clean bar, and any plan
  * regression toward the quadratic class re-flags every round instead of
  * waiting for a hand-run sweep. Standalone sweeps:
  *
  *   runMain graft.SkewStress <sfDir> [hotPermille]
  *     [probeCsv|--debinned|--globalsorted]
  *
  * `--debinned` swaps in a deliberately DE-BINNED attribution join (the
  * exact pre-r13 quadratic shape) as a positive control: the gate must
  * flag it, or the gate is measuring nothing (see PERF_NOTES r14).
  * `--globalsorted` is the lang-axis positive control (r15): the naive
  * row-level per-language percentile window — one sort task holding the
  * hot language's whole corpus — next to quality_percentile_norm's
  * histogram decomposition of the same semantics, which must read clean
  * in the same window. documents is ~6 k rows at sf0.1 (the corpus table
  * is ~100× lighter than the fact tables the other axes stress), so this
  * control proves against the 10× lake: measured 3.05 s wall at 89%
  * single-task share → rule-3 flag, while quality_percentile_norm reads
  * 0.59 s at 12% share in the same window.
  *
  * The skewed lake (built once per (testdata, permille) via AtomicPublish,
  * stamped) collapses `hotPermille`‰ of `events.user_id`,
  * `lineitem.l_suppkey`, `lineitem.l_partkey` and `orders.o_custkey` rows
  * onto one hot key each (EXISTING dimension keys, so FK semantics
  * survive) and the same share of `documents` rows onto the corpus's
  * modal `lang`; all other tables copy through unchanged. Each probe runs
  * paired (base lake, then skewed lake, same contention window — the
  * ratio-adjudication lesson of VERDICT r12 task #1) and records the worst
  * stage's straggler profile: max task ms / median task ms within the
  * stage carrying the most total task time.
  *
  * Expected behavior by class (measured r13, PERF_NOTES r13 #10/#11):
  *  - per-key WINDOWS (events_sessionize, scd2_history): the hot key's
  *    group is indivisible by semantics — the straggler factor IS the hot
  *    share, the wall stays key-linear, and the mitigation is upstream
  *    (events_sessionize_salted is that mitigation as a catalog query:
  *    time-block salt + bounded boundary merge, flat by construction);
  *  - equi+range joins (multi_touch_attribution): quadratic per hot key
  *    when planned as equi-join + residual — held linear by day-binning
  *    the time axis into the join key;
  *  - first-successor scans (window_funnel_depth): ANY join formulation
  *    is the wrong algorithm; the per-user descending ordered scan is
  *    key-linear;
  *  - two-level decomposed windows (weighted_median_price,
  *    mode_event_per_user): the hot key's mass collapses map-side onto
  *    its value domain before any per-key window;
  *  - aggregate-first joins (q21, q15, rfm, cohort): map-side combine
  *    spreads the hot key's mass before the key ever reaches an exchange;
  *  - degree-capped self-joins (link_prediction_common_nbrs): wedge
  *    fanout is ≤ C(16,2) per node no matter how hot a part is;
  *  - salted joins (skew_salted_join): the salt fans the hot key across
  *    the configured factor by construction;
  *  - AQE skew-join splits cover plain shuffle JOINS, re-chunking a
  *    skewed partition without semantic limits.
  */
object SkewStress {

  /** Default hot share: 30% of fact rows on one key per axis. */
  val HotPermille = 300

  /** Every bench catalog query whose plan keys on a skewed axis, grouped
    * by the axis and the discipline that must hold it flat. Enforced ⊆
    * catalog by CatalogPropertySpec.
    *
    * The `documents.lang` axis (r15, VERDICT r14 task #2) is the one
    * NATIVELY hot key in every real corpus — `en` is 41% of this one and
    * ~half of any production crawl — so the text family's hot-lang
    * disciplines (histogram-decomposed ranks, per-lang aggregates,
    * WindowGroupLimit'd top-k) are proved here the same way the other
    * four axes were proved in r14, instead of claimed by construction.
    */
  val probes: Seq[String] = Seq(
    // events.user_id — per-user windows (semantic straggler class: the
    // hot group is indivisible, wall must stay key-linear)
    "events_sessionize", "events_sessionize_salted", "scd2_history",
    "event_trigram_paths", "time_weighted_avg", "window_value_family",
    "window_running_distinct", "timeseries_gapfill_ffill",
    "orders_gaps_islands",
    // events.user_id — ordered scans / asof (key-linear by algorithm)
    "window_funnel_depth", "asof_join_last_event", "asof_join_next_event",
    "asof_join_nearest_event",
    // events.user_id — equi+range join (day bin in the key). The uncapped
    // form is bench=false since r17 (its ANSWER is quadratic in hot-key
    // mass — 744M pairs for the 30%-hot user on the 10× lake — which no
    // join algorithm fixes) but stays probed HERE at sf0.1, where the
    // answer-size term is small, so the day-bin join discipline itself
    // remains graded; multi_touch_last_n is the benched scale path.
    "multi_touch_attribution", "multi_touch_last_n",
    // events.user_id — aggregate-first (map-side combine spreads the key)
    "funnel_signup_purchase", "funnel_time_to_convert", "cohort_retention",
    "markov_entropy_rate", "markov_holding_times", "path_regex_funnel",
    "survival_km_conversion", "map_event_counts", "selfjoin_size_estimate",
    "decile_lift_table", "cuped_adjustment_audit",
    // events.user_id — two-level decomposed rank
    "mode_event_per_user",
    // lineitem.l_suppkey
    "weighted_median_price", "q21_waiting_supplier", "q15_top_supplier",
    "q20_excess_shippers", "distinct_counts", "ivm_delta_join",
    "pagerank_one_step",
    // lineitem.l_partkey — self-join / capped-wedge class
    "copurchase_pairs", "link_prediction_common_nbrs",
    "q17_small_qty_revenue",
    // orders.o_custkey — per-customer windows and aggregates
    "window_rank_family", "window_range_frame", "window_running_sum",
    "q13_order_distribution", "q22_dormant_customers", "rfm_segmentation",
    "interval_union_coverage", "gini_revenue_concentration",
    "key_skew_profile",
    // documents.lang — the natively hot corpus key: decomposed ranks
    // (histogram join-back), per-lang aggregate-first plans, and
    // WindowGroupLimit'd per-lang top-k; the straggler shape they must
    // avoid is one sort task holding the hot language's whole corpus
    // (the __globalsorted positive control below IS that shape)
    "quality_percentile_norm", "quality_median_filter",
    "sample_topk_per_lang", "sample_balance_langs", "oov_rate_per_lang",
    "quantile_normalize_sources",
    // explicit skew disciplines
    "skew_salted_join", "salt_factor_planner")

  /** One paired probe result: base/skewed wall seconds plus the skewed
    * run's straggler profile — the GLOBAL max task ms, with the median
    * task ms and task count of the stage containing that max task —
    * captured from the SAME run that produced the reported minimum wall
    * (ADVICE r13).
    */
  final case class SkewMeasure(baseS: Double, skewS: Double,
                               maxMs: Long, medMs: Long, nTasks: Int) {
    def stragglerX: Double = if (medMs > 0) maxMs.toDouble / medMs else -1.0
    /** Fraction of the skewed wall spent inside the single longest task —
      * ≈1 means one task IS the query (the collapse signature). */
    def hotTaskShare: Double = if (skewS > 0) maxMs / (skewS * 1000.0) else 0.0
  }

  /** The graded gate — two rules, each targeting one face of the
    * hot-key-collapse class (both validated against the r14 sf0.1 sweep
    * where every legitimate probe reads ≤1.6× wall ratio and ≤0.5 hot-task
    * share, and both positive controls flag — PERF_NOTES r14):
    *  1. WALL BLOWUP: skewed wall > 10× the paired base (and past a 4 s
    *     floor) — catches quadratics whose work spreads over many tasks.
    *     A key-linear plan at a 30% hot share measures ≤ ~7× (the binned
    *     multi_touch reads 6.9× on the 10× lake); the r13 kills read
    *     31×/50×+. The max(base, 0.3 s) denominator floor is the
    *     floor_exempt policy of VERDICT r12 task #6.
    *  2. HOT-TASK COLLAPSE: ≥60% of a ≥2 s skewed wall inside ONE task,
    *     with the wall ≥2.5× the paired base — "wall-time ≈ the hot task
    *     alone", the literal collapse definition, which fires well before
    *     rule 1's wall floor (the de-binned attribution control at sf0.1:
    *     2.8 s wall, 85% in one 2.4 s task, 4.7× base — a blowup rule 1
    *     alone only sees on the 10× lake). Legitimate semantic stragglers
    *     (per-user windows) stay under the 2 s floor at bench scale, and
    *     uniform box drift moves BOTH paired walls, not the ratio.
    *  3. NATIVE-HOT COLLAPSE (r15): ≥75% of a ≥2 s wall inside ONE task,
    *     with NO base-ratio guard. Rules 1-2 are pair-DIFFERENTIAL — they
    *     compare against the base lake — which makes them structurally
    *     blind to a key that is hot in the base data itself: `en` is 41%
    *     of the base corpus, so the naive per-lang percentile sort is
    *     just as collapsed on the base lake and the skew/base ratio never
    *     moves (measured: the __globalsorted control reads 3.05 s at 89%
    *     share but only 1.56× its equally-collapsed base). Calibration on
    *     the r14 probe sweep: the highest legitimate share is 0.64 (at a
    *     1.55 s wall) and the highest legitimate ≥2 s wall carries 0.49
    *     share, so 0.75∧2 s clears every clean probe with margin while
    *     both positive controls (debinned 0.85, globalsorted 0.89) flag.
    */
  /** `floorScale` (VERDICT r15 task #3): running the gate on the 10× lake
    * scales the ABSOLUTE seconds floors with the data (4 s / 2 s / 2 s
    * and the 0.3 s base-denominator floor × the factor) — a 10×-lake probe
    * legitimately takes ~10× the wall, so unscaled floors would flag
    * every honest probe; the RATIO thresholds (10×, 2.5×) and the
    * hot-task-share thresholds (0.6, 0.75) are scale-free and stay put.
    */
  def isStraggler(m: SkewMeasure, floorScale: Double = 1.0): Boolean = {
    val base = math.max(m.baseS, 0.3 * floorScale)
    val wallBlowup = m.skewS > math.max(4.0 * floorScale, 10.0 * base)
    val hotCollapse = m.skewS >= 2.0 * floorScale && m.hotTaskShare >= 0.6 &&
      m.skewS > 2.5 * base
    val nativeHotCollapse = m.skewS >= 2.0 * floorScale && m.hotTaskShare >= 0.75
    wallBlowup || hotCollapse || nativeHotCollapse
  }

  /** The hot user id: chosen OUTSIDE every real key range (user ids are
    * dimension-table keys ≤ ~10^7 even on the 100× lake), so collapsing
    * rows onto it never merges with an existing user's history.
    */
  private val HotUser = 424242424242L

  /** Materialize the hot-key variant lake once per (testdata content,
    * permille): `hotPermille`‰ of `events` rows collapse onto one user_id,
    * the same share of `lineitem` rows onto one EXISTING l_suppkey and one
    * EXISTING l_partkey (independent pseudo-random row slices), of
    * `orders` rows onto one EXISTING o_custkey, and of `documents` rows
    * onto the corpus's MODAL lang (stacking on its native share — `en` at
    * 41% reaches ~59% at the default 300‰, past the "half the crawl is
    * English" bar of VERDICT r14 task #2); all other tables copy through
    * unchanged, so FK semantics and dimension joins survive.
    * pmod(xxhash64(row identity)) selects deterministic slices; the chosen
    * rows keep their identity columns — only the key under test collapses.
    */
  def ensureSkewed(spark: SparkSession, sfDir: String,
                   hotPermille: Int = HotPermille): String = {
    // one dir per source lake: a control/adjudication run against the
    // 10× lake must not clobber the bench's sf0.1 variant
    AtomicPublish.derived(s"graft_skewed_p$hotPermille", sfDir, s"p=$hotPermille", "3") { tmp =>
      val hotSupp = spark.read.parquet(s"$sfDir/supplier.parquet")
        .agg(min("s_suppkey")).head().getLong(0)
      val hotPart = spark.read.parquet(s"$sfDir/part.parquet")
        .agg(min("p_partkey")).head().getLong(0)
      val hotCust = spark.read.parquet(s"$sfDir/customer.parquet")
        .agg(min("c_custkey")).head().getLong(0)
      // the modal language (bounded domain — same 1-row lookup class as
      // the dimension keys above): collapsing onto it STACKS the hot
      // share on the language's native mass instead of diluting it
      val hotLang = spark.read.parquet(s"$sfDir/documents.parquet")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang")).head().getString(0)
      Seq("region", "nation", "customer", "supplier", "part",
          "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
      }
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("lang",
          when(pmod(xxhash64(col("doc_id"), lit(13L)), lit(1000)) < hotPermille,
            lit(hotLang)).otherwise(col("lang")))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      spark.read.parquet(s"$sfDir/events.parquet")
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(1000)) < hotPermille,
            lit(HotUser)).otherwise(col("user_id")))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .withColumn("l_suppkey",
          when(pmod(xxhash64(col("l_orderkey"), col("l_partkey")), lit(1000)) < hotPermille,
            lit(hotSupp)).otherwise(col("l_suppkey")))
        // seed differs from the suppkey slice so the two hot sets are
        // independent — a row can be hot on both axes, neither, or one
        .withColumn("l_partkey",
          when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(7L)), lit(1000)) < hotPermille,
            lit(hotPart)).otherwise(col("l_partkey")))
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("o_custkey",
          when(pmod(xxhash64(col("o_orderkey")), lit(1000)) < hotPermille,
            lit(hotCust)).otherwise(col("o_custkey")))
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    }
  }

  /** Run each probe paired — best-of-2 on the base lake, then best-of-2 on
    * the skewed lake, back to back so both walls share one contention
    * window. The straggler profile ([[RunMeter.Run.worstTask]]) comes from
    * the skewed run that produced the reported minimum, so the paired
    * numbers always describe the same execution. A probe that throws in
    * any run reads -1.0 on that side: a failure is never hidden behind the
    * other run's time.
    */
  def run(spark: SparkSession, sfDir: String, skewedDir: String,
          names: Seq[String] = probes,
          fns: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
      : Seq[(String, SkewMeasure)] =
    RunMeter.using(spark) { meter =>
      names.map { n =>
        // Materialize.force (inside best): the query's OWN plan, full
        // output — a derived count would prune the very windows the
        // per-key probes exist to stress (see Materialize's scaladoc)
        val base = meter.best(n, 2)(fns(n)(spark, sfDir))
        val skewed = meter.best(n, 2)(fns(n)(spark, skewedDir))
        val (mx, md, nt) = skewed.worstTask
        n -> SkewMeasure(base.seconds, skewed.seconds, mx, md, nt)
      }
    }

  /** The positive control for [[isStraggler]]: multi_touch_attribution
    * WITHOUT the day bin in the join key — the exact pre-r13 quadratic
    * shape (per-user equi-join, 7-day residual AFTER the join
    * materializes views(u)·purchases(u) rows). Never in the catalog;
    * exists so `--debinned` can prove the gate flags the class it was
    * built for.
    */
  private[graft] def debinnedAttribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = QueryDef.t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("au"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("au"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val touches = purchases.join(views, "au")
      .filter(col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - expr("INTERVAL 7 DAY"))
    val w = Window.partitionBy("purchase_id").orderBy(col("v_ts"), col("view_id"))
    val cnt = Window.partitionBy("purchase_id")
    touches
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      .select(col("purchase_id"), col("view_id"),
        col("rk").cast("long").as("rk"), col("n"))
  }

  /** The lang-axis positive control (VERDICT r14 task #2): the NAIVE
    * row-level per-language percentile — percent_rank over every (doc,
    * token) row, partitioned by lang — exactly the one-sort-task-holds-
    * the-hot-language collapse that quality_percentile_norm's histogram
    * decomposition exists to avoid (token granularity, because at sf0.1
    * the doc-level sort finishes under the gate's 2 s floor; the shape
    * under test — a row-proportional per-lang sort — is the same). Never
    * in the catalog; exists so `--globalsorted` can prove the gate flags
    * the class the lang probes are graded against.
    */
  private[graft] def globalSortedPercentile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = QueryDef.t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
    val w = Window.partitionBy("lang").orderBy(col("tok"), col("doc_id"))
    toks.withColumn("pr", percent_rank().over(w))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"), avg("pr").as("mean_pr"))
  }

  def main(args: Array[String]): Unit = {
    // --scale=N scales the gate's absolute floors for a scaled source
    // lake (the once-per-round 10× sweep of the quadratic-prone families,
    // VERDICT r15 task #3); positional args are unchanged.
    val floorScale = args.collectFirst {
      case a if a.startsWith("--scale=") => a.stripPrefix("--scale=").toDouble
    }.getOrElse(1.0)
    val pos = args.filterNot(_.startsWith("--scale="))
    val sfDir = if (pos.nonEmpty) pos(0) else "/root/testdata/sf0.1"
    val hotPermille = if (pos.length > 1) pos(1).toInt else HotPermille
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val (names, fns) = pos.drop(2).headOption match {
      case Some("--debinned") =>
        (Seq("multi_touch_attribution", "__debinned_attribution"),
          SparkEntry.queries + ("__debinned_attribution" ->
            ((s: SparkSession, d: String) => debinnedAttribution(s, d))))
      case Some("--globalsorted") =>
        (Seq("quality_percentile_norm", "__globalsorted_percentile"),
          SparkEntry.queries + ("__globalsorted_percentile" ->
            ((s: SparkSession, d: String) => globalSortedPercentile(s, d))))
      case Some(csv) => (csv.split(",").toSeq.filter(_.nonEmpty).distinct,
        SparkEntry.queries)
      case None => (probes, SparkEntry.queries)
    }
    val skewed = ensureSkewed(spark, sfDir, hotPermille)
    println(f"[skew] hot share = ${hotPermille / 10.0}%.1f%% of events.user_id, " +
      "lineitem.{l_suppkey,l_partkey}, orders.o_custkey, documents.lang rows" +
      (if (floorScale != 1.0) f" (floors x$floorScale%.0f)" else ""))
    val rs = run(spark, sfDir, skewed, names, fns)
    rs.foreach { case (n, m) =>
      val flag = if (isStraggler(m, floorScale)) "  <== STRAGGLER" else ""
      println(f"[skew] $n%-30s base=${m.baseS}%6.2fs skewed=${m.skewS}%6.2fs " +
        f"(max task ${m.maxMs}%5d ms = ${m.hotTaskShare * 100}%3.0f%% of wall, " +
        f"${m.stragglerX}%5.1fx its stage median over ${m.nTasks}%3d tasks)$flag")
    }
    // machine-readable summary line (the committed skew10x artifact)
    println(Json.write(sweepRecord(sfDir, hotPermille, floorScale, rs)))
    spark.stop()
  }

  /** The sweep's summary record. */
  private[graft] def sweepRecord(sfDir: String, hotPermille: Int, floorScale: Double,
                                 rs: Seq[(String, SkewMeasure)]): Map[String, Any] = {
    import Json.{obj, round}
    obj("metric" -> "skew_sweep", "src" -> sfDir, "hot_permille" -> hotPermille,
      "floor_scale" -> floorScale,
      "probes" -> obj(rs.map { case (n, m) =>
        n -> obj("base_s" -> round(m.baseS, 2), "skew_s" -> round(m.skewS, 2),
          "hot_task_pct" -> round(m.hotTaskShare, 2), "straggler_x" -> round(m.stragglerX, 1))
      }: _*),
      "stragglers" -> rs.collect { case (n, m) if isStraggler(m, floorScale) => n }.sorted)
  }
}
