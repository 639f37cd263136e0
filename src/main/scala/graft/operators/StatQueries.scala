package graft.operators

import graft.QueryDef
import graft.QueryDef.t

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical-inference and distribution-shape queries over the exact
  * integer/decimal contract: Gini concentration (how skewed is spend —
  * the sampling-design twin of key_skew_profile), chi-square independence
  * of the lang×source corpus facets (the hypothesis-test companion to
  * lang_source_mutual_info's information-theoretic readout), the
  * Mann-Kendall monotonic-trend test over daily event volume (the
  * nonparametric change detector next to cusum_rate_drift's mean-shift
  * one), and a day-of-week seasonality profile (the calendar structure a
  * drift monitor must discount before alarming).
  *
  * All four follow the house determinism contract: every aggregate is
  * exact integer (cents / counts / rank sums), and each double-bearing
  * output is produced by ONE identical arithmetic expression on both
  * engines, quantized to nano/micro units (see lang_source_mutual_info's
  * Scaladoc for why ln/sqrt outputs are quantized).
  *
  * Reference scope: the reference POC stops at SCD2 rollups
  * (duckdb/analytics/transform_scd2.py:19-61); these are the
  * monitoring/analysis extensions the build brief asks for beyond it.
  */
object StatQueries {

  val defs: Seq[QueryDef] = Seq(

    // Gini coefficient of per-customer order revenue — the concentration
    // number behind "1% of customers drive X% of revenue", and for a
    // training-data pipeline the skew diagnostic that says whether a
    // per-key quota (mix_weighted_sources) or a skew-salted join
    // (skew_salted_join) is warranted. Exact arithmetic throughout: the
    // rank-sum formula G = (2·Σrᵢxᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ) is evaluated
    // over the VALUE HISTOGRAM, not per-row ranks — ranks occupied by a
    // tied value v (count m, c_lt smaller rows) contribute
    // v·(m·c_lt + m(m+1)/2) exactly, so the only ordered window runs
    // over distinct cent values (≪ rows; at 100 TB upgrade to a
    // range-partitioned two-pass cumulative count, same contract). The
    // rank-sum AND the final n·tot / (n+1)·tot products ride
    // DECIMAL(38,0): in BIGINT they hold only to ~10⁵ customers × 10⁹
    // cents, and the r14 honest-materializer 100× sweep (1.5M
    // customers, n·tot ≈ 3.4e19 > 2⁶³) hit the ANSI long-overflow the
    // old count()-pruned sweeps never executed. Per-row factors stay
    // integer (m·c_lt ≤ n·m fits to ~10⁹ customers); only the
    // cent-weighted accumulation and the scalar products widen. Outputs
    // are unchanged — the
    // final division consumes the same exact integers on both engines
    // (DuckDB's BIGINT sum already promotes to HUGEINT; the explicit
    // DECIMAL cast mirrors the widening so both sides stay bit-exact).
    QueryDef(
      "gini_revenue_concentration",
      (s, d) => {
        val cents = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev_d"))
          .select((col("rev_d") * 100).cast("long").as("cent_bin"))
        val hist = cents.groupBy("cent_bin").agg(count(lit(1)).as("m"))
        val w = Window.orderBy("cent_bin").rowsBetween(Window.unboundedPreceding, -1)
        hist
          .withColumn("c_lt", coalesce(sum("m").over(w), lit(0L)))
          .agg(
            sum(col("m")).as("n"),
            sum(col("cent_bin") * col("m")).as("tot"),
            sum(col("cent_bin").cast(DecimalType(38, 0)) *
                (col("m") * col("c_lt") + expr("m * (m + 1) div 2")))
              .as("rs"))
          .select(
            col("n").as("n_customers"),
            col("tot").as("total_cents"),
            round((lit(2L) * col("rs") -
                (col("n") + lit(1L)).cast(DecimalType(38, 0)) * col("tot"))
                .cast("double") /
              (col("n").cast(DecimalType(38, 0)) * col("tot")).cast("double") * lit(1e9))
              .cast("long").as("gini_nano"))
      },
      Some("""WITH cents AS (
             |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
             |  FROM orders GROUP BY o_custkey),
             |hist AS (SELECT cents, CAST(count(*) AS BIGINT) AS m FROM cents GROUP BY cents),
             |cum AS (
             |  SELECT cents, m,
             |    CAST(coalesce(sum(m) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c_lt
             |  FROM hist),
             |agg AS (
             |  SELECT CAST(sum(m) AS BIGINT) AS n,
             |    CAST(sum(cents * m) AS BIGINT) AS tot,
             |    CAST(sum(CAST(cents AS DECIMAL(38,0)) * (m * c_lt + (m * (m + 1)) // 2))
             |      AS DECIMAL(38,0)) AS rs
             |  FROM cum)
             |SELECT n AS n_customers, tot AS total_cents,
             |  CAST(round(CAST(2 * rs - CAST(n + 1 AS DECIMAL(38,0)) * tot AS DOUBLE)
             |    / CAST(CAST(n AS DECIMAL(38,0)) * tot AS DOUBLE) * 1e9) AS BIGINT) AS gini_nano
             |FROM agg""".stripMargin)),

    // Chi-square test of independence between the corpus `lang` and
    // `source` facets, plus Cramér's V effect size — the classical-test
    // companion to lang_source_mutual_info (MI says how many bits the
    // facets share; chi²/V says whether the association clears noise and
    // how strong it is on [0,1]). Per-cell statistic (O·N − R·C)²/(N·R·C)
    // — algebraically (O−E)²/E with E=R·C/N — keeps every product an
    // exact BIGINT (cells·N < 2⁵³ up to ~10⁶-doc facets; beyond that the
    // squared diff must route through DOUBLE anyway and stays exact to
    // 2²⁶ diffs); each term is nano-quantized BEFORE the final sum so
    // the aggregate is integer arithmetic. One groupBy(lang, source) +
    // two window marginals + a broadcast 1-row dims join.
    QueryDef(
      "chi2_lang_source",
      (s, d) => {
        val cells = t(s, d, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        val dims = cells.agg(
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n")).as("n_tot"))
        val terms = cells
          .withColumn("n_lang", sum("n").over(Window.partitionBy("lang")))
          .withColumn("n_src", sum("n").over(Window.partitionBy("source")))
          .crossJoin(broadcast(dims))
          .select(
            round(pow((col("n") * col("n_tot") - col("n_lang") * col("n_src")).cast("double"), 2) /
              (col("n_tot") * col("n_lang") * col("n_src")).cast("double") * lit(1e9))
              .cast("long").as("term_nano"),
            col("n_langs"), col("n_sources"), col("n_tot"))
        terms.groupBy("n_langs", "n_sources", "n_tot")
          .agg(count(lit(1)).as("n_cells"), sum("term_nano").as("chi2_nano"))
          .select(
            col("n_cells"),
            ((col("n_langs") - 1) * (col("n_sources") - 1)).as("df"),
            col("chi2_nano"),
            round(sqrt(col("chi2_nano").cast("double") / lit(1e9) /
              (col("n_tot") * least(col("n_langs") - 1, col("n_sources") - 1)).cast("double"))
              * lit(1e6)).cast("long").as("cramers_v_micro"))
      },
      Some("""WITH cells AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1, 2),
             |dims AS (
             |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |    CAST(sum(n) AS BIGINT) AS n_tot
             |  FROM cells),
             |m AS (
             |  SELECT n,
             |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
             |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_src
             |  FROM cells),
             |terms AS (
             |  SELECT CAST(round(pow(CAST(n * n_tot - n_lang * n_src AS DOUBLE), 2)
             |      / CAST(n_tot * n_lang * n_src AS DOUBLE) * 1e9) AS BIGINT) AS term_nano,
             |    n_langs, n_sources, n_tot
             |  FROM m CROSS JOIN dims)
             |SELECT CAST(count(*) AS BIGINT) AS n_cells,
             |  (n_langs - 1) * (n_sources - 1) AS df,
             |  CAST(sum(term_nano) AS BIGINT) AS chi2_nano,
             |  CAST(round(sqrt(CAST(sum(term_nano) AS DOUBLE) / 1e9
             |    / CAST(n_tot * least(n_langs - 1, n_sources - 1) AS DOUBLE)) * 1e6) AS BIGINT)
             |    AS cramers_v_micro
             |FROM terms GROUP BY n_langs, n_sources, n_tot""".stripMargin)),

    // Mann-Kendall monotonic-trend test over daily event volume — the
    // nonparametric "is traffic drifting" detector (no distribution
    // assumed, robust to outliers) next to cusum_rate_drift's mean-shift
    // statistic: S = Σ_{i<j} sign(n_j − n_i) over days, the tie-corrected
    // variance 18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5), and the
    // continuity-corrected z. Scale shape: the O(days²) pair join runs on
    // the POST-AGGREGATION daily table — bounded by the calendar, not the
    // data (a century is 36k days → 1.3e9 pairs, still a broadcast
    // self-join of a tiny aggregate); everything upstream is one
    // map-side-combinable count per day. S and the variance are exact
    // BIGINTs; z is one quantized sqrt/division.
    QueryDef(
      "mann_kendall_trend",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val sPairs = daily.select(col("day").as("d1"), col("n").as("n1"))
          .join(broadcast(daily.select(col("day").as("d2"), col("n").as("n2"))),
            col("d1") < col("d2"))
          .agg(sum(when(col("n2") > col("n1"), 1L)
            .when(col("n2") < col("n1"), -1L).otherwise(0L)).as("s_stat"))
        val base = daily.agg(count(lit(1)).as("n_days"))
          .select(col("n_days"),
            (col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)).as("v0"))
        val ties = daily.groupBy("n").agg(count(lit(1)).as("tg"))
          .agg(coalesce(sum(col("tg") * (col("tg") - 1) * (lit(2L) * col("tg") + 5)), lit(0L))
            .as("vt"))
        base.crossJoin(ties).crossJoin(sPairs)
          .select(
            col("n_days"), col("s_stat"), (col("v0") - col("vt")).as("var18"),
            when(col("v0") - col("vt") === 0, 0L)
              .otherwise(round(
                (col("s_stat") - when(col("s_stat") > 0, 1L)
                  .when(col("s_stat") < 0, -1L).otherwise(0L)).cast("double") /
                  sqrt((col("v0") - col("vt")).cast("double") / lit(18.0)) * lit(1e9))
                .cast("long")).as("z_nano"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |s AS (
             |  SELECT CAST(sum(CASE WHEN b.n > a.n THEN 1
             |    WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
             |  FROM daily a JOIN daily b ON a.day < b.day),
             |base AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(count(*) * (count(*) - 1) * (2 * count(*) + 5) AS BIGINT) AS v0
             |  FROM daily),
             |ties AS (
             |  SELECT CAST(coalesce(sum(tg * (tg - 1) * (2 * tg + 5)), 0) AS BIGINT) AS vt
             |  FROM (SELECT CAST(count(*) AS BIGINT) AS tg FROM daily GROUP BY n))
             |SELECT n_days, s_stat, (v0 - vt) AS var18,
             |  CAST(CASE WHEN v0 - vt = 0 THEN 0 ELSE
             |    round(CAST(s_stat - (CASE WHEN s_stat > 0 THEN 1
             |        WHEN s_stat < 0 THEN -1 ELSE 0 END) AS DOUBLE)
             |      / sqrt(CAST(v0 - vt AS DOUBLE) / 18.0) * 1e9) END AS BIGINT) AS z_nano
             |FROM base CROSS JOIN ties CROSS JOIN s""".stripMargin)),

    // Day-of-week seasonality profile of event volume: per ISO weekday,
    // the day count, event count, and the seasonal index (that weekday's
    // mean daily volume over the whole-corpus mean daily volume, nano-
    // quantized) — the calendar structure a drift/trend monitor
    // (mann_kendall_trend, cusum_rate_drift) must discount before
    // alarming on a weekend dip. Two map-side-combinable aggregates and
    // a broadcast 1-row total; the weekday key is ISO (Mon=1) computed
    // as Spark weekday()+1 ≡ DuckDB isodow().
    QueryDef(
      "seasonal_weekday_profile",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val tot = daily.agg(sum("n").as("tot_n"), count(lit(1)).as("tot_days"))
        daily
          .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
          .groupBy("dow")
          .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"))
          .crossJoin(broadcast(tot))
          .select(col("dow"), col("n_days"), col("n_events"),
            round(col("n_events").cast("double") / col("n_days").cast("double") /
              (col("tot_n").cast("double") / col("tot_days").cast("double")) * lit(1e9))
              .cast("long").as("index_nano"))
          .orderBy("dow")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(n) AS BIGINT) AS tot_n,
             |    CAST(count(*) AS BIGINT) AS tot_days
             |  FROM daily)
             |SELECT CAST(isodow(day) AS BIGINT) AS dow,
             |  CAST(count(*) AS BIGINT) AS n_days,
             |  CAST(sum(n) AS BIGINT) AS n_events,
             |  CAST(round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    / (CAST(tot_n AS DOUBLE) / CAST(tot_days AS DOUBLE)) * 1e9) AS BIGINT)
             |    AS index_nano
             |FROM daily CROSS JOIN tot
             |GROUP BY dow, tot_n, tot_days
             |ORDER BY dow""".stripMargin)),

    // Kaplan-Meier survival curve for view→purchase conversion — the
    // censoring-aware "how long until a user converts" estimator
    // (funnel_time_to_convert reports percentiles over CONVERTED users
    // only; KM also counts the users who never purchased, censored at
    // the end of observation, so the curve is unbiased). Subjects enter
    // at their first view day; an event is the first purchase on/after
    // it; duration is in whole days. Product-limit arithmetic follows
    // the house log-quantization contract: each factor ln((n−d)/n) is
    // nano-quantized, the running product is an exact integer cumsum,
    // and the one exp() consumes an identical double on both engines.
    // The table stops before any d=n step (S would hit exact 0 and the
    // log diverges — with censored subjects present this only occurs
    // at a degenerate tail). Scale shape: two per-user argmin
    // aggregates, then everything runs on the duration histogram —
    // bounded by the calendar, not the user count; the only ordered
    // windows scan that tiny table.
    QueryDef(
      "survival_km_conversion",
      (s, d) => {
        val ev = t(s, d, "events")
        val fv = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("v_day"))
        val fp = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), to_date(col("ts")).as("p_day"))
          .join(fv, "user_id").filter(col("p_day") >= col("v_day"))
          .groupBy("user_id").agg(min(col("p_day")).as("p_day"))
        val maxDay = ev.agg(max(to_date(col("ts"))).as("max_day"))
        val subj = fv.join(fp, Seq("user_id"), "left_outer")
          .crossJoin(broadcast(maxDay))
          .select(
            when(col("p_day").isNotNull, datediff(col("p_day"), col("v_day")))
              .otherwise(datediff(col("max_day"), col("v_day")))
              .cast("long").as("dur_days"),
            when(col("p_day").isNotNull, 1L).otherwise(0L).as("ev"))
        val tot = subj.agg(count(lit(1)).as("n_subjects"))
        val wPrev = Window.orderBy("dur_days").rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy("dur_days").rowsBetween(Window.unboundedPreceding, 0)
        subj.groupBy("dur_days")
          .agg(sum("ev").as("d"), count(lit(1)).as("ended"))
          .crossJoin(broadcast(tot))
          .withColumn("n_at_risk",
            col("n_subjects") - coalesce(sum(col("ended")).over(wPrev), lit(0L)))
          .filter(col("d") > 0)
          .withColumn("dead_flag",
            max(when(col("d") === col("n_at_risk"), 1L).otherwise(0L)).over(wCum))
          .filter(col("dead_flag") === 0)
          .withColumn("term_nano",
            round(log((col("n_at_risk") - col("d")).cast("double") /
              col("n_at_risk").cast("double")) * lit(1e9)).cast("long"))
          .withColumn("logs_nano", sum("term_nano").over(wCum))
          .select(col("dur_days").as("t_days"), col("n_at_risk"),
            col("d").as("n_conversions"), col("logs_nano"),
            round(exp(col("logs_nano").cast("double") / lit(1e9)) * lit(1e6))
              .cast("long").as("surv_micro"))
          .orderBy("t_days")
      },
      Some("""WITH fv AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS v_day
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |fp AS (
             |  SELECT e.user_id, min(CAST(e.ts AS DATE)) AS p_day
             |  FROM events e JOIN fv ON e.user_id = fv.user_id
             |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= fv.v_day
             |  GROUP BY 1),
             |mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
             |subj AS (
             |  SELECT
             |    CAST(CASE WHEN p_day IS NOT NULL
             |      THEN date_diff('day', v_day, p_day)
             |      ELSE date_diff('day', v_day, max_day) END AS BIGINT) AS dur,
             |    CAST(CASE WHEN p_day IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ev
             |  FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN mx),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects FROM subj),
             |km AS (
             |  SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             |    CAST(count(*) AS BIGINT) AS ended
             |  FROM subj GROUP BY dur),
             |risk AS (
             |  SELECT dur, d,
             |    n_subjects - CAST(coalesce(sum(ended) OVER (ORDER BY dur
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS n_at_risk
             |  FROM km CROSS JOIN tot),
             |steps AS (SELECT * FROM risk WHERE d > 0),
             |alive AS (
             |  SELECT dur, d, n_at_risk,
             |    max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER (ORDER BY dur
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead_flag
             |  FROM steps),
             |terms AS (
             |  SELECT dur, d, n_at_risk,
             |    CAST(round(ln(CAST(n_at_risk - d AS DOUBLE)
             |      / CAST(n_at_risk AS DOUBLE)) * 1e9) AS BIGINT) AS term_nano
             |  FROM alive WHERE dead_flag = 0)
             |SELECT dur AS t_days, n_at_risk, d AS n_conversions,
             |  CAST(sum(term_nano) OVER (ORDER BY dur
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS logs_nano,
             |  CAST(round(exp(CAST(sum(term_nano) OVER (ORDER BY dur
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9)
             |    * 1e6) AS BIGINT) AS surv_micro
             |FROM terms ORDER BY t_days""".stripMargin)),

    // Log-rank test (Mantel-Haenszel) over the same view→purchase
    // conversion durations as survival_km_conversion, comparing two
    // md5-split user cohorts — the hypothesis test the KM curves feed
    // ("do the arms convert at the same hazard?"). Per event day the
    // observed-minus-expected arm-1 deaths d1 − d·n1/n and the
    // hypergeometric variance d·(n1/n)·(1−n1/n)·(n−d)/(n−1) are FIXED
    // double sequences over exact BIGINT at-risk/death counts, each
    // nano-quantized before the (date-bounded) sums — so the χ² assembles
    // from two exact integers and one final division on both engines.
    // Scale shape: identical to KM — two per-user argmin aggregates, then
    // the duration histogram (calendar-bounded) carries every window.
    QueryDef(
      "survival_logrank_test",
      (s, d) => {
        val ev = t(s, d, "events")
        val fv = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("v_day"))
        val fp = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), to_date(col("ts")).as("p_day"))
          .join(fv, "user_id").filter(col("p_day") >= col("v_day"))
          .groupBy("user_id").agg(min(col("p_day")).as("p_day"))
        val maxDay = ev.agg(max(to_date(col("ts"))).as("max_day"))
        val subj = fv.join(fp, Seq("user_id"), "left_outer")
          .crossJoin(broadcast(maxDay))
          .select(
            when(col("p_day").isNotNull, datediff(col("p_day"), col("v_day")))
              .otherwise(datediff(col("max_day"), col("v_day")))
              .cast("long").as("dur_days"),
            when(col("p_day").isNotNull, 1L).otherwise(0L).as("ev"),
            when(PipelineQueries.hashPermille(col("user_id"), "logrank")
              < 500000L, 1L).otherwise(0L).as("arm"))
        val tot = subj.agg(count(lit(1)).as("n_all"),
          sum(col("arm")).as("n1_all"))
        val wPrev = Window.orderBy("dur_days")
          .rowsBetween(Window.unboundedPreceding, -1)
        val byDay = subj.groupBy("dur_days")
          .agg(sum("ev").as("dd"), count(lit(1)).as("ended"),
            sum(col("ev") * col("arm")).as("d1"),
            sum(col("arm")).as("ended1"))
          .crossJoin(broadcast(tot))
          .withColumn("n",
            col("n_all") - coalesce(sum(col("ended")).over(wPrev), lit(0L)))
          .withColumn("n1",
            col("n1_all") - coalesce(sum(col("ended1")).over(wPrev), lit(0L)))
          .filter(col("dd") > 0 && col("n") > 1)
        val r = col("n1").cast("double") / col("n").cast("double")
        val terms = byDay
          .withColumn("oe_nano",
            round((col("d1").cast("double") -
              col("dd").cast("double") * col("n1").cast("double") /
                col("n").cast("double")) * lit(1e9)).cast("long"))
          .withColumn("v_nano",
            round(col("dd").cast("double") * r * (lit(1.0) - r) *
              ((col("n") - col("dd")).cast("double") /
                (col("n") - 1L).cast("double")) * lit(1e9)).cast("long"))
        terms.agg(count(lit(1)).as("n_event_days"),
            max(col("n_all")).as("n_subjects"),
            max(col("n1_all")).as("n_arm1"),
            sum(col("oe_nano")).as("oe_sum_nano"),
            sum(col("v_nano")).as("var_sum_nano"))
          .select(col("n_event_days"), col("n_subjects"), col("n_arm1"),
            col("oe_sum_nano"), col("var_sum_nano"),
            ((col("oe_sum_nano").cast("double") / lit(1e9)) *
              (col("oe_sum_nano").cast("double") / lit(1e9)) /
              (col("var_sum_nano").cast("double") / lit(1e9)))
              .as("chi2_logrank"))
      },
      Some(s"""WITH fv AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS v_day
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |fp AS (
             |  SELECT e.user_id, min(CAST(e.ts AS DATE)) AS p_day
             |  FROM events e JOIN fv ON e.user_id = fv.user_id
             |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= fv.v_day
             |  GROUP BY 1),
             |md AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
             |subj AS (
             |  SELECT
             |    CAST(CASE WHEN fp.p_day IS NOT NULL
             |      THEN datediff('day', fv.v_day, fp.p_day)
             |      ELSE datediff('day', fv.v_day, md.max_day) END AS BIGINT)
             |      AS dur_days,
             |    CASE WHEN fp.p_day IS NOT NULL THEN 1 ELSE 0 END AS ev,
             |    CASE WHEN ${PipelineQueries.hashSqlExpr("fv.user_id", "logrank")}
             |      < 500000 THEN 1 ELSE 0 END AS arm
             |  FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN md),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
             |               CAST(sum(arm) AS BIGINT) AS n1_all FROM subj),
             |by_day AS (
             |  SELECT dur_days, CAST(sum(ev) AS BIGINT) AS dd,
             |    CAST(count(*) AS BIGINT) AS ended,
             |    CAST(sum(ev * arm) AS BIGINT) AS d1,
             |    CAST(sum(arm) AS BIGINT) AS ended1
             |  FROM subj GROUP BY 1),
             |risk AS (
             |  SELECT dur_days, dd, d1, n_all, n1_all,
             |    n_all - coalesce(CAST(sum(ended) OVER (ORDER BY dur_days
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             |      AS n,
             |    n1_all - coalesce(CAST(sum(ended1) OVER (ORDER BY dur_days
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             |      AS n1
             |  FROM by_day CROSS JOIN tot),
             |terms AS (
             |  SELECT n_all, n1_all,
             |    CAST(round((CAST(d1 AS DOUBLE)
             |      - CAST(dd AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
             |      * 1e9) AS BIGINT) AS oe_nano,
             |    CAST(round(CAST(dd AS DOUBLE)
             |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(n - dd AS DOUBLE) / CAST(n - 1 AS DOUBLE))
             |      * 1e9) AS BIGINT) AS v_nano
             |  FROM risk WHERE dd > 0 AND n > 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_event_days,
             |  max(n_all) AS n_subjects, max(n1_all) AS n_arm1,
             |  CAST(sum(oe_nano) AS BIGINT) AS oe_sum_nano,
             |  CAST(sum(v_nano) AS BIGINT) AS var_sum_nano,
             |  (CAST(sum(oe_nano) AS DOUBLE) / 1e9)
             |    * (CAST(sum(oe_nano) AS DOUBLE) / 1e9)
             |    / (CAST(sum(v_nano) AS DOUBLE) / 1e9) AS chi2_logrank
             |FROM terms""".stripMargin)),

    // Randomization (permutation-style) test for the purchase-vs-view
    // mean event value: 64 deterministic hash relabelings rebuild the
    // null distribution of the mean difference, and the p-value is the
    // exact fraction (1 + #extreme)/(B+1) — the distribution-free
    // significance test that needs no variance formula (unlike
    // abtest_two_proportion_z's parametric z). Each relabeling flips a
    // row into group A with probability na/(na+nb) — the OBSERVED group
    // proportions (r8 ADVICE: a 50/50 split under unbalanced groups
    // shrinks the replicate null variance ~ 1/na+1/nb and makes the
    // p-value anticonservative), so replicate group sizes match the
    // observed design in expectation — Bernoulli randomization, the
    // standard approximate-permutation scheme. The hash replaces the RNG
    // so the test is reproducible and restart-stable — the same property
    // the split/sample family builds on. Every replicate statistic is a ratio of
    // exact cent/count BIGINTs; the |stat| ≥ |obs| comparisons are
    // identical double ops on both engines. Scale shape: the 64-way
    // replicate explode is map-side combined to 64 partial rows per
    // task before the one tiny shuffle — B×scan compute, O(B) movement;
    // B grows the answer's precision, never the shuffle.
    QueryDef(
      "permutation_test_mean_diff",
      (s, d) => {
        val base = t(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("event_id"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
            (col("event_type") === "purchase").as("is_p"))
        val obs = base.agg(
          sum(when(col("is_p"), col("cents"))).as("sa"),
          count(when(col("is_p"), 1)).as("na"),
          sum(when(!col("is_p"), col("cents"))).as("sb"),
          count(when(!col("is_p"), 1)).as("nb"))
          .select(col("na"), col("nb"),
            (col("sa").cast("double") / col("na").cast("double") -
              col("sb").cast("double") / col("nb").cast("double")).as("obs_diff"))
        val reps = base
          // same pre-fanout repartition as bh_fdr_control: the 64-rep md5
          // kernel must not inherit the lake's 1-2 input splits
          .repartition(col("event_id"))
          .select(col("event_id"), col("cents"),
            explode(expr("sequence(0, 63)")).as("r"))
          .crossJoin(broadcast(obs.select(col("na").as("na_o"), col("nb").as("nb_o"))))
          .withColumn("flip",
            PipelineQueries.hashPermille(concat(col("event_id").cast("string"), lit("#"),
              col("r").cast("string")), "perm") <
              expr("na_o * 1000000 div (na_o + nb_o)"))
          .groupBy("r").agg(
            sum(when(col("flip"), col("cents"))).as("sa"),
            count(when(col("flip"), 1)).as("na"),
            sum(when(!col("flip"), col("cents"))).as("sb"),
            count(when(!col("flip"), 1)).as("nb"))
          .select((col("sa").cast("double") / col("na").cast("double") -
            col("sb").cast("double") / col("nb").cast("double")).as("stat"))
        reps.crossJoin(broadcast(obs))
          .agg(max(col("na")).as("n_purchase"), max(col("nb")).as("n_view"),
            max(col("obs_diff")).as("obs_diff"),
            count(lit(1)).as("b_replicates"),
            sum(when(abs(col("stat")) >= abs(col("obs_diff")), 1L).otherwise(0L))
              .as("n_extreme"))
          .withColumn("p_value",
            (col("n_extreme") + lit(1L)).cast("double") /
              (col("b_replicates") + lit(1L)).cast("double"))
      },
      Some(s"""WITH base AS (
              |  SELECT event_id,
              |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
              |    event_type = 'purchase' AS is_p
              |  FROM events WHERE event_type IN ('view', 'purchase')),
              |obs AS (
              |  SELECT CAST(count(CASE WHEN is_p THEN 1 END) AS BIGINT) AS na,
              |    CAST(count(CASE WHEN NOT is_p THEN 1 END) AS BIGINT) AS nb,
              |    CAST(sum(CASE WHEN is_p THEN cents END) AS DOUBLE)
              |        / CAST(count(CASE WHEN is_p THEN 1 END) AS DOUBLE)
              |      - CAST(sum(CASE WHEN NOT is_p THEN cents END) AS DOUBLE)
              |        / CAST(count(CASE WHEN NOT is_p THEN 1 END) AS DOUBLE) AS obs_diff
              |  FROM base),
              |reps AS (
              |  SELECT r,
              |    CAST(sum(CASE WHEN flip THEN cents END) AS DOUBLE)
              |        / CAST(count(CASE WHEN flip THEN 1 END) AS DOUBLE)
              |      - CAST(sum(CASE WHEN NOT flip THEN cents END) AS DOUBLE)
              |        / CAST(count(CASE WHEN NOT flip THEN 1 END) AS DOUBLE) AS stat
              |  FROM (
              |    SELECT b.cents, g.r,
              |      (${PipelineQueries.hashSqlExpr(
                       "CAST(event_id AS VARCHAR) || '#' || CAST(g.r AS VARCHAR)", "perm")})
              |        < (SELECT na * 1000000 // (na + nb) FROM obs) AS flip
              |    FROM base b CROSS JOIN (SELECT unnest(range(0, 64)) AS r) g)
              |  GROUP BY r)
              |SELECT na AS n_purchase, nb AS n_view, obs_diff,
              |  CAST(count(*) AS BIGINT) AS b_replicates,
              |  CAST(sum(CASE WHEN abs(stat) >= abs(obs_diff) THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_extreme,
              |  CAST(sum(CASE WHEN abs(stat) >= abs(obs_diff) THEN 1 ELSE 0 END) + 1
              |      AS DOUBLE)
              |    / CAST(count(*) + 1 AS DOUBLE) AS p_value
              |FROM reps CROSS JOIN obs
              |GROUP BY na, nb, obs_diff""".stripMargin)),

    // Entropy rate of the user-behavior Markov chain: per state s, the
    // empirical occupancy π(s) and conditional next-event entropy
    // H(s) = −Σ_t p(t|s)·ln p(t|s); the chain's entropy rate is
    // Σ_s π(s)·H(s) (each state row carries its additive term). This
    // is the sequence-predictability number behind session-model
    // evaluation — a near-zero rate means paths are deterministic and
    // a path LM is cheap to fit; the maximum ln(|states|) means
    // uniform churn. Transition counts come from one LEAD window per
    // user; each entropy term is nano-quantized BEFORE the per-state
    // integer sum (the surprisal pattern), so only the final π·H
    // product divides. Transition-matrix size is |event types|² —
    // scale-invariant; the per-user window is the only corpus shuffle.
    QueryDef(
      "markov_entropy_rate",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val trans = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("s_from"))
          .withColumn("s_to", lead("s_from", 1).over(w))
          .filter(col("s_to").isNotNull)
          .groupBy("s_from", "s_to").agg(count(lit(1)).as("nst"))
        val perState = trans
          .withColumn("ns", sum("nst").over(Window.partitionBy("s_from")))
          .withColumn("term_nano",
            round(-(col("nst").cast("double") / col("ns").cast("double")) *
              log(col("nst").cast("double") / col("ns").cast("double")) * lit(1e9))
              .cast("long"))
          .groupBy("s_from").agg(max("ns").as("n_s"),
            count(lit(1)).as("n_successors"),
            sum("term_nano").as("h_cond_nano"))
        perState
          .withColumn("n_total", sum("n_s").over(Window.partitionBy(lit(1))))
          .select(col("s_from"), col("n_s"), col("n_successors"), col("h_cond_nano"),
            round(col("n_s").cast("double") / col("n_total").cast("double") * lit(1e9))
              .cast("long").as("pi_nano"),
            round(col("n_s").cast("double") / col("n_total").cast("double") *
              col("h_cond_nano").cast("double")).cast("long").as("rate_term_nano"))
          .orderBy("s_from")
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS s_from,
             |    LEAD(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS s_to
             |  FROM events),
             |trans AS (
             |  SELECT s_from, s_to, CAST(count(*) AS BIGINT) AS nst
             |  FROM seq WHERE s_to IS NOT NULL GROUP BY 1, 2),
             |terms AS (
             |  SELECT s_from, nst, ns,
             |    CAST(round(-(CAST(nst AS DOUBLE) / CAST(ns AS DOUBLE))
             |      * ln(CAST(nst AS DOUBLE) / CAST(ns AS DOUBLE)) * 1e9) AS BIGINT)
             |      AS term_nano
             |  FROM (SELECT s_from, s_to, nst,
             |          CAST(sum(nst) OVER (PARTITION BY s_from) AS BIGINT) AS ns
             |        FROM trans)),
             |st AS (
             |  SELECT s_from, CAST(max(ns) AS BIGINT) AS n_s,
             |    CAST(count(*) AS BIGINT) AS n_successors,
             |    CAST(sum(term_nano) AS BIGINT) AS h_cond_nano
             |  FROM terms GROUP BY 1)
             |SELECT s_from, n_s, n_successors, h_cond_nano,
             |  CAST(round(CAST(n_s AS DOUBLE) / CAST(n_total AS DOUBLE) * 1e9) AS BIGINT)
             |    AS pi_nano,
             |  CAST(round(CAST(n_s AS DOUBLE) / CAST(n_total AS DOUBLE)
             |    * CAST(h_cond_nano AS DOUBLE)) AS BIGINT) AS rate_term_nano
             |FROM (SELECT *, CAST(sum(n_s) OVER () AS BIGINT) AS n_total FROM st)
             |ORDER BY s_from""".stripMargin)),

    // CUPED variance-reduction audit (Deng et al. 2013): per user, the
    // pre-period spend x (before the fixed 2024-01-16 cut) and the
    // post-period metric y; θ = cov(x,y)/var(x) is the covariate
    // coefficient an experimentation platform would subtract
    // (y − θ·(x − x̄)), and ρ² is exactly the fraction of metric
    // variance the adjustment removes — the number that decides whether
    // CUPED is worth wiring into an A/B readout. Follows the
    // corr_onepass_moments contract: per-user sums in tight DECIMALs,
    // corpus moments as exact decimal sums cast once to identical
    // doubles, then scalar IEEE arithmetic in the same order on both
    // engines. Two map-side-combinable aggregates, nothing else.
    QueryDef(
      "cuped_adjustment_audit",
      (s, d) => {
        val cents = col("value").cast(DecimalType(18, 2))
        val zero = lit(0).cast(DecimalType(18, 2))
        val pre = expr("ts < TIMESTAMP_NTZ '2024-01-16 00:00:00'")
        val perUser = t(s, d, "events")
          .groupBy("user_id")
          .agg(
            sum(when(pre, cents).otherwise(zero)).cast(DecimalType(14, 2)).as("x_d"),
            sum(when(!pre, cents).otherwise(zero)).cast(DecimalType(14, 2)).as("y_d"))
        perUser.agg(
            count(lit(1)).as("n"),
            sum(col("x_d")).cast("double").as("sum_x"),
            sum(col("y_d")).cast("double").as("sum_y"),
            sum((col("x_d") * col("x_d")).cast(DecimalType(28, 4))).cast("double").as("sum_xx"),
            sum((col("y_d") * col("y_d")).cast(DecimalType(28, 4))).cast("double").as("sum_yy"),
            sum((col("x_d") * col("y_d")).cast(DecimalType(28, 4))).cast("double").as("sum_xy"))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("cov_n", col("nd") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .withColumn("varx_n", col("nd") * col("sum_xx") - col("sum_x") * col("sum_x"))
          .withColumn("vary_n", col("nd") * col("sum_yy") - col("sum_y") * col("sum_y"))
          .select(col("n"), col("sum_x"), col("sum_y"),
            (col("cov_n") / col("varx_n")).as("theta"),
            (col("cov_n") * col("cov_n") / (col("varx_n") * col("vary_n")))
              .as("var_reduction_frac"))
      },
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |      THEN CAST(value AS DECIMAL(18,2))
             |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(14,2)) AS x_d,
             |    CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-16')
             |      THEN CAST(value AS DECIMAL(18,2))
             |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(14,2)) AS y_d
             |  FROM events GROUP BY 1),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x_d) AS DOUBLE) AS sum_x,
             |    CAST(sum(y_d) AS DOUBLE) AS sum_y,
             |    CAST(sum(CAST(x_d * x_d AS DECIMAL(28,4))) AS DOUBLE) AS sum_xx,
             |    CAST(sum(CAST(y_d * y_d AS DECIMAL(28,4))) AS DOUBLE) AS sum_yy,
             |    CAST(sum(CAST(x_d * y_d AS DECIMAL(28,4))) AS DOUBLE) AS sum_xy
             |  FROM pu),
             |k AS (
             |  SELECT *,
             |    CAST(n AS DOUBLE) * sum_xy - sum_x * sum_y AS cov_n,
             |    CAST(n AS DOUBLE) * sum_xx - sum_x * sum_x AS varx_n,
             |    CAST(n AS DOUBLE) * sum_yy - sum_y * sum_y AS vary_n
             |  FROM m)
             |SELECT n, sum_x, sum_y,
             |  cov_n / varx_n AS theta,
             |  cov_n * cov_n / (varx_n * vary_n) AS var_reduction_frac
             |FROM k""".stripMargin)),

    // Wald's sequential probability ratio test over the daily purchase
    // share — the early-stopping monitor that reads the data ONCE PER
    // DAY and stops as soon as the evidence crosses a boundary, instead
    // of waiting for a fixed horizon (the always-valid counterpart to
    // abtest_two_proportion_z's fixed-n test). H0: p=0.10 vs H1:
    // p=0.15, α=β=0.05: the two per-observation log-likelihood-ratio
    // increments are CONSTANTS, nano-quantized once, so every daily
    // increment and the running LLR are exact integers and the boundary
    // comparisons (±ln 19) are integer compares. One daily aggregate +
    // one calendar-bounded cumulative window.
    QueryDef(
      "sprt_sequential_test",
      (s, d) => {
        val la = round(log(lit(0.15) / lit(0.10)) * lit(1e9)).cast("long")
        val lb = round(log(lit(0.85) / lit(0.90)) * lit(1e9)).cast("long")
        val bound = round(log(lit(19.0)) * lit(1e9)).cast("long")
        val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_t"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c_t"))
          .withColumn("cum_llr_nano",
            sum(col("c_t") * la + (col("n_t") - col("c_t")) * lb).over(wCum))
          .select(col("day"), col("n_t"), col("c_t"), col("cum_llr_nano"),
            when(col("cum_llr_nano") >= bound, "accept_h1")
              .when(col("cum_llr_nano") <= -bound, "accept_h0")
              .otherwise("continue").as("decision"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_t,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS c_t
             |  FROM events GROUP BY 1),
             |k AS (
             |  SELECT CAST(round(ln(0.15 / 0.10) * 1e9) AS BIGINT) AS la,
             |    CAST(round(ln(0.85 / 0.90) * 1e9) AS BIGINT) AS lb,
             |    CAST(round(ln(19.0) * 1e9) AS BIGINT) AS bound),
             |c AS (
             |  SELECT day, n_t, c_t, bound,
             |    CAST(sum(c_t * la + (n_t - c_t) * lb) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_llr_nano
             |  FROM daily CROSS JOIN k)
             |SELECT day, n_t, c_t, cum_llr_nano,
             |  CASE WHEN cum_llr_nano >= bound THEN 'accept_h1'
             |    WHEN cum_llr_nano <= -bound THEN 'accept_h0'
             |    ELSE 'continue' END AS decision
             |FROM c ORDER BY day""".stripMargin)),

    // Difference-in-differences estimate of per-event spend for the
    // BUILDING segment against all others across the fixed 2024-01-16
    // cut — the quasi-experimental estimator for "did something change
    // for THIS cohort beyond the market-wide trend" when no
    // randomization exists (the observational sibling of
    // abtest_two_proportion_z / cuped_adjustment_audit). One pass
    // builds all four (group × period) cells as exact decimal sums;
    // the four means and the DiD are scalar IEEE arithmetic over
    // bit-identical aggregates, computed in one fixed order.
    QueryDef(
      "diff_in_diff_estimate",
      (s, d) => {
        val seg = t(s, d, "customer")
          .select(col("c_custkey").as("user_id"),
            (col("c_mktsegment") === "BUILDING").as("treated"))
        val cents = col("value").cast(DecimalType(18, 2))
        val post = expr("ts >= TIMESTAMP_NTZ '2024-01-16 00:00:00'")
        def cell(p: org.apache.spark.sql.Column, tr: org.apache.spark.sql.Column) =
          (sum(when(p && tr, cents)).cast("double"),
            sum(when(p && tr, 1L).otherwise(0L)))
        val (sTPost, nTPost) = cell(post, col("treated"))
        val (sTPre, nTPre) = cell(!post, col("treated"))
        val (sCPost, nCPost) = cell(post, !col("treated"))
        val (sCPre, nCPre) = cell(!post, !col("treated"))
        t(s, d, "events").join(seg, "user_id")
          .agg(sTPost.as("s_t_post"), nTPost.as("n_t_post"),
            sTPre.as("s_t_pre"), nTPre.as("n_t_pre"),
            sCPost.as("s_c_post"), nCPost.as("n_c_post"),
            sCPre.as("s_c_pre"), nCPre.as("n_c_pre"))
          .withColumn("m_t_post", col("s_t_post") / col("n_t_post").cast("double"))
          .withColumn("m_t_pre", col("s_t_pre") / col("n_t_pre").cast("double"))
          .withColumn("m_c_post", col("s_c_post") / col("n_c_post").cast("double"))
          .withColumn("m_c_pre", col("s_c_pre") / col("n_c_pre").cast("double"))
          .select(col("n_t_post"), col("n_t_pre"), col("n_c_post"), col("n_c_pre"),
            col("m_t_post"), col("m_t_pre"), col("m_c_post"), col("m_c_pre"),
            (col("m_t_post") - col("m_t_pre") - (col("m_c_post") - col("m_c_pre")))
              .as("did_value"))
      },
      Some("""WITH j AS (
             |  SELECT CAST(e.value AS DECIMAL(18,2)) AS v,
             |    c.c_mktsegment = 'BUILDING' AS treated,
             |    e.ts >= TIMESTAMP '2024-01-16' AS post
             |  FROM events e JOIN customer c ON e.user_id = c.c_custkey),
             |m AS (
             |  SELECT
             |    CAST(sum(CASE WHEN post AND treated THEN v END) AS DOUBLE) AS s_t_post,
             |    CAST(sum(CASE WHEN post AND treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
             |    CAST(sum(CASE WHEN NOT post AND treated THEN v END) AS DOUBLE) AS s_t_pre,
             |    CAST(sum(CASE WHEN NOT post AND treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
             |    CAST(sum(CASE WHEN post AND NOT treated THEN v END) AS DOUBLE) AS s_c_post,
             |    CAST(sum(CASE WHEN post AND NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
             |    CAST(sum(CASE WHEN NOT post AND NOT treated THEN v END) AS DOUBLE) AS s_c_pre,
             |    CAST(sum(CASE WHEN NOT post AND NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre
             |  FROM j),
             |k AS (
             |  SELECT *,
             |    s_t_post / CAST(n_t_post AS DOUBLE) AS m_t_post,
             |    s_t_pre / CAST(n_t_pre AS DOUBLE) AS m_t_pre,
             |    s_c_post / CAST(n_c_post AS DOUBLE) AS m_c_post,
             |    s_c_pre / CAST(n_c_pre AS DOUBLE) AS m_c_pre
             |  FROM m)
             |SELECT n_t_post, n_t_pre, n_c_post, n_c_pre,
             |  m_t_post, m_t_pre, m_c_post, m_c_pre,
             |  m_t_post - m_t_pre - (m_c_post - m_c_pre) AS did_value
             |FROM k""".stripMargin)),

    // Two-feature least squares in closed form: per-order lineitem
    // revenue regressed on line count and total quantity, the 3×3
    // normal equations solved by
    // CRAMER'S RULE over one-pass moments — the multi-feature extension
    // of ols_group_regression that shows a small design matrix never
    // needs an iterative solver OR a driver-side collect: nine exact
    // decimal/integer moments, then the four determinants are fixed-
    // order scalar IEEE chains identical on both engines. (Beyond a few
    // features the same moments feed a broadcast Cholesky — the moment
    // pass, which is the only corpus-scale stage, is unchanged.)
    // R² comes from the same moments via SSE = Σy²−b₀Σy−b₁Σx₁y−b₂Σx₂y.
    QueryDef(
      "ols_two_feature_cramer",
      (s, d) => {
        val base = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("x1"),
            sum(col("l_quantity").cast(DecimalType(12, 2))).as("x2_d"),
            sum(col("l_extendedprice").cast(DecimalType(14, 2))).as("y_d"))
          .select(col("x1"), (col("x2_d") * 100).cast("long").as("x2"),
            (col("y_d") * 100).cast("long").as("y"))
        val m = base.agg(
          count(lit(1)).as("n"),
          sum(col("x1")).cast("double").as("s1"),
          sum(col("x2")).cast("double").as("s2"),
          sum(col("y")).cast("double").as("sy"),
          // x1² per order ≤ ~1e4, so the raw BIGINT sum holds headroom
          // past 1e14 orders; every x2- or y-bearing product (up to
          // ~2.5e15 per row) goes through DECIMAL(38,0) like syy so the
          // sums can't overflow 2^63 at any order count (r8 ADVICE) —
          // DuckDB's HUGEINT promotion already gives the oracle the same
          // exactness.
          sum(col("x1") * col("x1")).cast("double").as("s11"),
          sum((col("x2") * col("x2")).cast(DecimalType(38, 0))).cast("double").as("s22"),
          sum((col("x1") * col("x2")).cast(DecimalType(38, 0))).cast("double").as("s12"),
          sum((col("x1") * col("y")).cast(DecimalType(38, 0))).cast("double").as("s1y"),
          sum((col("x2") * col("y")).cast(DecimalType(38, 0))).cast("double").as("s2y"),
          sum((col("y") * col("y")).cast(DecimalType(38, 0))).cast("double").as("syy"))
          .withColumn("nd", col("n").cast("double"))
        def det(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                c: org.apache.spark.sql.Column, dd: org.apache.spark.sql.Column,
                e: org.apache.spark.sql.Column, f: org.apache.spark.sql.Column,
                g: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column,
                i: org.apache.spark.sql.Column) =
          a * (e * i - f * h) - b * (dd * i - f * g) + c * (dd * h - e * g)
        val (nd, s1, s2, sy) = (col("nd"), col("s1"), col("s2"), col("sy"))
        val (s11, s22, s12, s1y, s2y) = (col("s11"), col("s22"), col("s12"),
          col("s1y"), col("s2y"))
        val dm = det(nd, s1, s2, s1, s11, s12, s2, s12, s22)
        val d0 = det(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
        val d1 = det(nd, sy, s2, s1, s1y, s12, s2, s2y, s22)
        val d2 = det(nd, s1, sy, s1, s11, s1y, s2, s12, s2y)
        m.withColumn("b0", d0 / dm).withColumn("b1", d1 / dm)
          .withColumn("b2", d2 / dm)
          .select(col("n"), col("b0"), col("b1"), col("b2"),
            (lit(1.0) - (col("syy") - col("b0") * col("sy") - col("b1") * col("s1y") -
              col("b2") * col("s2y")) /
              (col("syy") - col("sy") * col("sy") / col("nd"))).as("r2"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(count(*) AS BIGINT) AS x1,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS x2,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS y
             |  FROM lineitem GROUP BY l_orderkey),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(*) AS DOUBLE) AS nd,
             |    CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
             |    CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(x1 * x1) AS DOUBLE) AS s11,
             |    CAST(sum(x2 * x2) AS DOUBLE) AS s22,
             |    CAST(sum(x1 * x2) AS DOUBLE) AS s12,
             |    CAST(sum(x1 * y) AS DOUBLE) AS s1y,
             |    CAST(sum(x2 * y) AS DOUBLE) AS s2y,
             |    CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
             |  FROM base),
             |dets AS (
             |  SELECT *,
             |    nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
             |      + s2 * (s1 * s12 - s11 * s2) AS dm,
             |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
             |      + s2 * (s1y * s12 - s11 * s2y) AS d0,
             |    nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
             |      + s2 * (s1 * s2y - s1y * s2) AS d1,
             |    nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
             |      + sy * (s1 * s12 - s11 * s2) AS d2
             |  FROM m)
             |SELECT n, d0 / dm AS b0, d1 / dm AS b1, d2 / dm AS b2,
             |  1.0 - (syy - (d0 / dm) * sy - (d1 / dm) * s1y - (d2 / dm) * s2y)
             |    / (syy - sy * sy / nd) AS r2
             |FROM dets""".stripMargin)),

    // Poisson-bootstrap confidence interval for total revenue (the
    // streaming-friendly bootstrap: per replicate, each DAY's revenue
    // enters with a Poisson(1) weight instead of being resampled with
    // replacement — Chamandy et al.'s "Estimating Uncertainty for
    // Massive Data Streams", the variant that needs one pass and no
    // global shuffle of rows). The 64 replicate weights come from the
    // deterministic md5 permille hash against the exact Poisson(1) CDF
    // thresholds, so the interval is reproducible; replicate totals
    // are exact BIGINT cent sums; the P5/P95 picks are ranks 4 and 61
    // of the 64-row replicate table (a constant-size sort). The block
    // unit is the DAY — blocks preserve intra-day correlation, the
    // honest bootstrap for serially-dependent streams.
    QueryDef(
      "bootstrap_revenue_ci",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
            .as("cents"))
        val h = PipelineQueries.hashPermille(
          concat(col("day").cast("string"), lit("#"), col("r").cast("string")), "boot")
        val wgt = when(h < 367879L, 0L).when(h < 735759L, 1L)
          .when(h < 919699L, 2L).when(h < 981012L, 3L)
          .when(h < 996340L, 4L).otherwise(5L)
        val reps = daily
          .select(col("day"), col("cents"), explode(expr("sequence(0, 63)")).as("r"))
          .withColumn("w", wgt)
          .groupBy("r").agg(sum(col("w") * col("cents")).as("total"))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("total"), col("r"))))
        val obs = daily.agg(count(lit(1)).as("n_days"),
          sum("cents").as("observed_total"))
        reps.crossJoin(broadcast(obs))
          .agg(max(col("n_days")).as("n_days"),
            max(col("observed_total")).as("observed_total"),
            (sum(col("total")).cast("double") / lit(64.0)).as("boot_mean"),
            max(when(col("rn") === 4, col("total"))).as("p05_total"),
            max(when(col("rn") === 61, col("total"))).as("p95_total"))
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(ts AS DATE) AS day,
              |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
              |         AS BIGINT) AS cents
              |  FROM events GROUP BY 1),
              |reps AS (
              |  SELECT r, CAST(sum(w * cents) AS BIGINT) AS total
              |  FROM (
              |    SELECT cents, r,
              |      CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
              |        WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
              |        WHEN h < 996340 THEN 4 ELSE 5 END AS w
              |    FROM (
              |      SELECT cents, g.r,
              |        (${PipelineQueries.hashSqlExpr(
                         "CAST(day AS VARCHAR) || '#' || CAST(g.r AS VARCHAR)", "boot")})
              |          AS h
              |      FROM daily CROSS JOIN (SELECT unnest(range(0, 64)) AS r) g))
              |  GROUP BY r),
              |rk AS (SELECT total, ROW_NUMBER() OVER (ORDER BY total, r) AS rn FROM reps),
              |obs AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
              |          CAST(sum(cents) AS BIGINT) AS observed_total
              |        FROM daily)
              |SELECT n_days, observed_total,
              |  CAST((SELECT sum(total) FROM reps) AS DOUBLE) / 64.0 AS boot_mean,
              |  (SELECT total FROM rk WHERE rn = 4) AS p05_total,
              |  (SELECT total FROM rk WHERE rn = 61) AS p95_total
              |FROM obs""".stripMargin)),

    // Burst-episode detection over daily event volume: days whose count
    // clears μ + 2σ merge into consecutive EPISODES (gaps-and-islands
    // on the flagged days) with start/end/peak/total — the
    // incident-shaped output an on-call consumes, where
    // cusum_rate_drift emits a point statistic and mann_kendall a
    // global trend. μ and σ come from exact integer moments (one
    // identical sqrt on both engines); everything after runs on the
    // calendar-bounded daily table.
    QueryDef(
      "burst_episode_detection",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        val m = daily.agg(count(lit(1)).as("k"), sum("n").as("s"),
          sum(col("n") * col("n")).as("ss"))
          .select(
            (col("s").cast("double") / col("k").cast("double")).as("mu"),
            sqrt((col("k") * col("ss") - col("s") * col("s")).cast("double") /
              (col("k") * (col("k") - 1)).cast("double")).as("sigma"))
        val flagged = daily.crossJoin(broadcast(m))
          .filter(col("n").cast("double") > col("mu") + lit(2.0) * col("sigma"))
        val wOrd = Window.orderBy("day")
        flagged
          .withColumn("new_ep",
            when(datediff(col("day"), lag("day", 1).over(wOrd)) > 1, 1L)
              .otherwise(when(lag("day", 1).over(wOrd).isNull, 1L).otherwise(0L)))
          .withColumn("episode", sum("new_ep").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("episode")
          .agg(min("day").as("start_day"), max("day").as("end_day"),
            count(lit(1)).as("n_days"), max("n").as("peak_events"),
            sum("n").as("total_events"))
          .orderBy("episode")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |m AS (
             |  SELECT CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
             |    sqrt(CAST(count(*) * sum(n * n) - sum(n) * sum(n) AS DOUBLE)
             |      / CAST(count(*) * (count(*) - 1) AS DOUBLE)) AS sigma
             |  FROM daily),
             |flagged AS (
             |  SELECT day, n FROM daily CROSS JOIN m
             |  WHERE CAST(n AS DOUBLE) > mu + 2.0 * sigma),
             |ep AS (
             |  SELECT day, n,
             |    CAST(sum(CASE WHEN prev IS NULL OR date_diff('day', prev, day) > 1
             |      THEN 1 ELSE 0 END) OVER (ORDER BY day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS episode
             |  FROM (SELECT day, n, lag(day) OVER (ORDER BY day) AS prev FROM flagged))
             |SELECT episode, min(day) AS start_day, max(day) AS end_day,
             |  CAST(count(*) AS BIGINT) AS n_days,
             |  CAST(max(n) AS BIGINT) AS peak_events,
             |  CAST(sum(n) AS BIGINT) AS total_events
             |FROM ep GROUP BY episode ORDER BY episode""".stripMargin)),

    // Per-transition holding times of the behavior chain — the
    // continuous-time companion to markov_entropy_rate: for each
    // (state → next-state) edge, how long users actually dwell before
    // making that transition (median-free exact means in seconds from
    // μs-integer gap sums, plus min/max). Entropy rate says WHERE the
    // chain goes; holding times say HOW FAST — together they
    // parameterize a semi-Markov session simulator and set honest
    // streaming-session gap thresholds (cf. streaming_session_windows'
    // 30-minute gap — validated here against observed dwell
    // distributions). One LEAD window per user, then a
    // map-side-combinable aggregate over |states|² rows.
    QueryDef(
      "markov_holding_times",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("s_from"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .withColumn("s_to", lead("s_from", 1).over(w))
          .withColumn("next_us", lead("us", 1).over(w))
          .filter(col("s_to").isNotNull)
          .select(col("s_from"), col("s_to"),
            (col("next_us") - col("us")).as("gap_us"))
          .groupBy("s_from", "s_to")
          .agg(count(lit(1)).as("n_transitions"),
            sum("gap_us").as("sum_gap_us"),
            min("gap_us").as("min_gap_us"),
            max("gap_us").as("max_gap_us"))
          .withColumn("mean_gap_sec",
            col("sum_gap_us").cast("double") /
              col("n_transitions").cast("double") / lit(1e6))
          .orderBy("s_from", "s_to")
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS s_from,
             |    LEAD(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS s_to,
             |    epoch_us(ts) AS us,
             |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_us
             |  FROM events)
             |SELECT s_from, s_to, CAST(count(*) AS BIGINT) AS n_transitions,
             |  CAST(sum(next_us - us) AS BIGINT) AS sum_gap_us,
             |  CAST(min(next_us - us) AS BIGINT) AS min_gap_us,
             |  CAST(max(next_us - us) AS BIGINT) AS max_gap_us,
             |  CAST(sum(next_us - us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
             |    AS mean_gap_sec
             |FROM seq WHERE s_to IS NOT NULL
             |GROUP BY 1, 2 ORDER BY s_from, s_to""".stripMargin)),

    // Welch's unequal-variance t statistic for the purchase-vs-view mean
    // event value — the parametric sibling of permutation_test_mean_diff
    // (same contrast, closed-form variance instead of resampling) that
    // does NOT assume equal group variances (the plain pooled t is wrong
    // under the heteroscedasticity this data actually has). Moments are
    // exact BIGINT/DECIMAL cent sums; t and the Welch–Satterthwaite df
    // are each ONE fixed chain of IEEE ops from those integers, identical
    // on both engines. One scan, a 2-row aggregate — scale-invariant.
    QueryDef(
      "welch_t_test",
      (s, d) => {
        val base = t(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .select(
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
            (col("event_type") === "purchase").as("is_p"))
        val m = base.agg(
          count(when(col("is_p"), 1)).as("na"),
          sum(when(col("is_p"), col("cents"))).as("sa"),
          sum(when(col("is_p"), (col("cents") * col("cents"))
            .cast(DecimalType(38, 0)))).cast("double").as("qa"),
          count(when(!col("is_p"), 1)).as("nb"),
          sum(when(!col("is_p"), col("cents"))).as("sb"),
          sum(when(!col("is_p"), (col("cents") * col("cents"))
            .cast(DecimalType(38, 0)))).cast("double").as("qb"))
        m.select(col("na"), col("nb"),
            (col("sa").cast("double") / col("na").cast("double")).as("mean_a"),
            (col("sb").cast("double") / col("nb").cast("double")).as("mean_b"),
            ((col("qa") - col("sa").cast("double") * col("sa").cast("double")
              / col("na").cast("double")) / (col("na") - 1).cast("double")
            ).as("var_a"),
            ((col("qb") - col("sb").cast("double") * col("sb").cast("double")
              / col("nb").cast("double")) / (col("nb") - 1).cast("double")
            ).as("var_b"))
          .withColumn("se2",
            col("var_a") / col("na").cast("double") +
              col("var_b") / col("nb").cast("double"))
          .select(col("na").as("n_purchase"), col("nb").as("n_view"),
            col("mean_a"), col("mean_b"),
            ((col("mean_a") - col("mean_b")) / sqrt(col("se2"))).as("t_welch"),
            ((col("se2") * col("se2")) /
              ((col("var_a") / col("na").cast("double")) *
                 (col("var_a") / col("na").cast("double")) /
                 (col("na") - 1).cast("double") +
               (col("var_b") / col("nb").cast("double")) *
                 (col("var_b") / col("nb").cast("double")) /
                 (col("nb") - 1).cast("double"))).as("df_welch"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    event_type = 'purchase' AS is_p
             |  FROM events WHERE event_type IN ('view', 'purchase')),
             |m AS (
             |  SELECT CAST(count(CASE WHEN is_p THEN 1 END) AS BIGINT) AS na,
             |    CAST(sum(CASE WHEN is_p THEN cents END) AS BIGINT) AS sa,
             |    CAST(sum(CASE WHEN is_p THEN CAST(cents * cents AS DECIMAL(38,0)) END)
             |      AS DOUBLE) AS qa,
             |    CAST(count(CASE WHEN NOT is_p THEN 1 END) AS BIGINT) AS nb,
             |    CAST(sum(CASE WHEN NOT is_p THEN cents END) AS BIGINT) AS sb,
             |    CAST(sum(CASE WHEN NOT is_p THEN CAST(cents * cents AS DECIMAL(38,0)) END)
             |      AS DOUBLE) AS qb
             |  FROM base),
             |v AS (
             |  SELECT na, nb,
             |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
             |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
             |    (qa - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
             |      / CAST(na - 1 AS DOUBLE) AS var_a,
             |    (qb - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
             |      / CAST(nb - 1 AS DOUBLE) AS var_b
             |  FROM m),
             |w AS (
             |  SELECT *, var_a / CAST(na AS DOUBLE) + var_b / CAST(nb AS DOUBLE) AS se2
             |  FROM v)
             |SELECT na AS n_purchase, nb AS n_view, mean_a, mean_b,
             |  (mean_a - mean_b) / sqrt(se2) AS t_welch,
             |  (se2 * se2) /
             |    ((var_a / CAST(na AS DOUBLE)) * (var_a / CAST(na AS DOUBLE))
             |       / CAST(na - 1 AS DOUBLE)
             |     + (var_b / CAST(nb AS DOUBLE)) * (var_b / CAST(nb AS DOUBLE))
             |       / CAST(nb - 1 AS DOUBLE)) AS df_welch
             |FROM w""".stripMargin)),

    // One IRLS (Newton–Raphson) step for a 2-feature logistic regression
    // — converted ~ order count + revenue, the churn/propensity model
    // every CRM fits: from the FIXED documented prior β = (−1, 0.2,
    // 0.05), each row contributes its weighted working-response moments
    // (w = μ(1−μ), z = η + (y−μ)/w), and the update solves the 3×3
    // weighted normal equations by the ols_two_feature_cramer
    // determinant machinery. The per-row μ chain (one exp) is identical
    // IEEE on both engines and every moment term is nano-quantized
    // BEFORE the sums — so an ITERATIVE optimizer's inner loop replays
    // bit-exactly under the oracle, the same per-round contract as the
    // ALS/IPF/EM steps. One scan, one 10-moment aggregate.
    QueryDef(
      "logreg_irls_step",
      (s, d) => {
        val per = t(s, d, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).cast("double").as("x1"),
            (sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") /
              lit(1e6)).as("x2"),
            max(when(col("o_orderstatus") === "F", 1.0).otherwise(0.0)).as("y"))
        val withW = per
          .withColumn("eta", lit(-1.0) + lit(0.2) * col("x1") + lit(0.05) * col("x2"))
          .withColumn("mu", lit(1.0) / (lit(1.0) + exp(-col("eta"))))
          .withColumn("w", col("mu") * (lit(1.0) - col("mu")))
          .withColumn("z", col("eta") + (col("y") - col("mu")) / col("w"))
        def q(c: org.apache.spark.sql.Column, n: String) =
          sum(round(c * lit(1e9)).cast("long")).as(n)
        val m = withW.agg(
          count(lit(1)).as("n"),
          q(col("w"), "s0"), q(col("w") * col("x1"), "s1"),
          q(col("w") * col("x2"), "s2"),
          q(col("w") * col("x1") * col("x1"), "s11"),
          q(col("w") * col("x2") * col("x2"), "s22"),
          q(col("w") * col("x1") * col("x2"), "s12"),
          q(col("w") * col("z"), "sy"),
          q(col("w") * col("x1") * col("z"), "s1y"),
          q(col("w") * col("x2") * col("z"), "s2y"))
        def dbl(n: String) = col(n).cast("double")
        def det(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                c: org.apache.spark.sql.Column, dd: org.apache.spark.sql.Column,
                e: org.apache.spark.sql.Column, f: org.apache.spark.sql.Column,
                g: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column,
                i: org.apache.spark.sql.Column) =
          a * (e * i - f * h) - b * (dd * i - f * g) + c * (dd * h - e * g)
        val (s0, s1, s2, sy) = (dbl("s0"), dbl("s1"), dbl("s2"), dbl("sy"))
        val (s11, s22, s12, s1y, s2y) =
          (dbl("s11"), dbl("s22"), dbl("s12"), dbl("s1y"), dbl("s2y"))
        val dm = det(s0, s1, s2, s1, s11, s12, s2, s12, s22)
        val d0 = det(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
        val d1 = det(s0, sy, s2, s1, s1y, s12, s2, s2y, s22)
        val d2 = det(s0, s1, sy, s1, s11, s1y, s2, s12, s2y)
        m.select(col("n"),
          (d0 / dm).as("beta0_new"), (d1 / dm).as("beta1_new"),
          (d2 / dm).as("beta2_new"))
      },
      Some("""WITH per AS (
             |  SELECT o_custkey,
             |    CAST(count(*) AS DOUBLE) AS x1,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 1e6
             |      AS x2,
             |    max(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS y
             |  FROM orders GROUP BY 1),
             |ww AS (
             |  SELECT *,
             |    -1.0 + 0.2 * x1 + 0.05 * x2 AS eta,
             |    1.0 / (1.0 + exp(-(-1.0 + 0.2 * x1 + 0.05 * x2))) AS mu
             |  FROM per),
             |w2 AS (
             |  SELECT *, mu * (1.0 - mu) AS w,
             |    eta + (y - mu) / (mu * (1.0 - mu)) AS z
             |  FROM ww),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(round(w * 1e9) AS BIGINT)) AS BIGINT) AS s0,
             |    CAST(sum(CAST(round(w * x1 * 1e9) AS BIGINT)) AS BIGINT) AS s1,
             |    CAST(sum(CAST(round(w * x2 * 1e9) AS BIGINT)) AS BIGINT) AS s2,
             |    CAST(sum(CAST(round(w * x1 * x1 * 1e9) AS BIGINT)) AS BIGINT) AS s11,
             |    CAST(sum(CAST(round(w * x2 * x2 * 1e9) AS BIGINT)) AS BIGINT) AS s22,
             |    CAST(sum(CAST(round(w * x1 * x2 * 1e9) AS BIGINT)) AS BIGINT) AS s12,
             |    CAST(sum(CAST(round(w * z * 1e9) AS BIGINT)) AS BIGINT) AS sy,
             |    CAST(sum(CAST(round(w * x1 * z * 1e9) AS BIGINT)) AS BIGINT) AS s1y,
             |    CAST(sum(CAST(round(w * x2 * z * 1e9) AS BIGINT)) AS BIGINT) AS s2y
             |  FROM w2),
             |dd AS (
             |  SELECT n,
             |    CAST(s0 AS DOUBLE) AS s0, CAST(s1 AS DOUBLE) AS s1,
             |    CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
             |    CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22,
             |    CAST(s12 AS DOUBLE) AS s12, CAST(s1y AS DOUBLE) AS s1y,
             |    CAST(s2y AS DOUBLE) AS s2y
             |  FROM m)
             |SELECT n,
             |  (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
             |     + s2 * (s1y * s12 - s11 * s2y))
             |  / (s0 * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
             |     + s2 * (s1 * s12 - s11 * s2)) AS beta0_new,
             |  (s0 * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
             |     + s2 * (s1 * s2y - s1y * s2))
             |  / (s0 * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
             |     + s2 * (s1 * s12 - s11 * s2)) AS beta1_new,
             |  (s0 * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
             |     + sy * (s1 * s12 - s11 * s2))
             |  / (s0 * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
             |     + s2 * (s1 * s12 - s11 * s2)) AS beta2_new
             |FROM dd""".stripMargin)),

    // One ALS half-step (Koren/Hu et al.; the alternating-least-squares
    // recommender update that was Spark MLlib's flagship workload): with
    // ITEM factors fixed (two deterministic hash-seeded dimensions), each
    // user's 2-vector solves its own ridge normal equations
    // (AᵀA + λI)θ = Aᵀr in closed form over that user's purchase rows
    // (implicit rating = quantity). The distributed shape is the point:
    // one shuffle keyed by user, each group a constant-size 2×2 solve —
    // no driver-side matrix anywhere. Engine-exactness: every per-item
    // moment term (v², v·v, v·r) is nano-quantized BEFORE the per-user
    // integer sums (FP-order-free), λ joins as an integer, and the
    // Cramer solve is one fixed double chain per user.
    QueryDef(
      "als_user_factor_step",
      (s, d) => {
        val r = t(s, d, "lineitem")
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
            col("l_quantity").cast(DecimalType(12, 2)).cast("double").as("r"))
        val withF = r
          .withColumn("v1",
            PipelineQueries.hashPermille(col("item").cast("string"), "alsv1")
              .cast("double") / lit(1000000.0))
          .withColumn("v2",
            PipelineQueries.hashPermille(col("item").cast("string"), "alsv2")
              .cast("double") / lit(1000000.0))
          .select(col("user"),
            round(col("v1") * col("v1") * lit(1e9)).cast("long").as("a11"),
            round(col("v1") * col("v2") * lit(1e9)).cast("long").as("a12"),
            round(col("v2") * col("v2") * lit(1e9)).cast("long").as("a22"),
            round(col("v1") * col("r") * lit(1e9)).cast("long").as("b1"),
            round(col("v2") * col("r") * lit(1e9)).cast("long").as("b2"))
        val lam = 100000000L // 0.1 in nano units
        withF.groupBy("user")
          .agg(count(lit(1)).as("n_items"),
            (sum(col("a11")) + lit(lam)).as("s11"),
            sum(col("a12")).as("s12"),
            (sum(col("a22")) + lit(lam)).as("s22"),
            sum(col("b1")).as("sb1"), sum(col("b2")).as("sb2"))
          .withColumn("det",
            col("s11").cast("double") * col("s22").cast("double") -
              col("s12").cast("double") * col("s12").cast("double"))
          .select(col("user").as("o_custkey"), col("n_items"),
            ((col("s22").cast("double") * col("sb1").cast("double") -
              col("s12").cast("double") * col("sb2").cast("double")) / col("det"))
              .as("theta1"),
            ((col("s11").cast("double") * col("sb2").cast("double") -
              col("s12").cast("double") * col("sb1").cast("double")) / col("det"))
              .as("theta2"))
          .orderBy("o_custkey")
      },
      Some(s"""WITH r AS (
             |  SELECT o_custkey AS u, l_partkey AS item,
             |    CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS r
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |f AS (
             |  SELECT u,
             |    CAST((${PipelineQueries.hashSqlExpr("item", "alsv1")})
             |      AS DOUBLE) / 1000000.0 AS v1,
             |    CAST((${PipelineQueries.hashSqlExpr("item", "alsv2")})
             |      AS DOUBLE) / 1000000.0 AS v2,
             |    r
             |  FROM r),
             |q AS (
             |  SELECT u,
             |    CAST(round(v1 * v1 * 1e9) AS BIGINT) AS a11,
             |    CAST(round(v1 * v2 * 1e9) AS BIGINT) AS a12,
             |    CAST(round(v2 * v2 * 1e9) AS BIGINT) AS a22,
             |    CAST(round(v1 * r * 1e9) AS BIGINT) AS b1,
             |    CAST(round(v2 * r * 1e9) AS BIGINT) AS b2
             |  FROM f),
             |m AS (
             |  SELECT u, CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(sum(a11) + 100000000 AS BIGINT) AS s11,
             |    CAST(sum(a12) AS BIGINT) AS s12,
             |    CAST(sum(a22) + 100000000 AS BIGINT) AS s22,
             |    CAST(sum(b1) AS BIGINT) AS sb1,
             |    CAST(sum(b2) AS BIGINT) AS sb2
             |  FROM q GROUP BY u)
             |SELECT u AS o_custkey, n_items,
             |  (CAST(s22 AS DOUBLE) * CAST(sb1 AS DOUBLE)
             |     - CAST(s12 AS DOUBLE) * CAST(sb2 AS DOUBLE))
             |    / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
             |     - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS theta1,
             |  (CAST(s11 AS DOUBLE) * CAST(sb2 AS DOUBLE)
             |     - CAST(s12 AS DOUBLE) * CAST(sb1 AS DOUBLE))
             |    / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
             |     - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS theta2
             |FROM m ORDER BY o_custkey""".stripMargin)),

    // EWMA level + one-step volume forecast (Holt without trend — the
    // capacity-planning baseline): level_t = α·Σ_{s≤t} (1−α)^(t−s)·y_s
    // with α = 0.3, normalized by the finite-window weight sum so early
    // days aren't biased low. Computed via the CALENDAR-BOUNDED day-pair
    // expansion (C(days,2) pairs — the theil_sen shape) rather than the
    // (1−α)^(−s) power trick, which overflows over long horizons; each
    // pair's term is nano-quantized BEFORE the integer sum (the
    // surprisal discipline), so the fold is order-free and engine-exact.
    // The forecast for day t+1 is the day-t level — emitted next to the
    // actual for the residual readout.
    QueryDef(
      "ewma_volume_forecast",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("dnum"))
          .agg(count(lit(1)).as("cnt"))
        val pairs = daily.select(col("dnum").as("t_day"), col("cnt").as("yt"))
          .crossJoin(broadcast(daily.select(col("dnum").as("s_day"), col("cnt").as("ys"))))
          .filter(col("s_day") <= col("t_day"))
          .withColumn("term_nano",
            round(col("ys").cast("double") *
              pow(lit(0.7), (col("t_day") - col("s_day")).cast("double")) * lit(1e9))
              .cast("long"))
          .withColumn("wt_nano",
            round(pow(lit(0.7), (col("t_day") - col("s_day")).cast("double")) * lit(1e9))
              .cast("long"))
        val lvl = pairs.groupBy("t_day")
          .agg(max(when(col("s_day") === col("t_day"), col("ys"))).as("actual"),
            sum(col("term_nano")).as("num_nano"), sum(col("wt_nano")).as("den_nano"))
          .withColumn("ewma_level",
            col("num_nano").cast("double") / col("den_nano").cast("double"))
        val w = Window.orderBy("t_day")
        lvl
          .withColumn("forecast_next", col("ewma_level"))
          .withColumn("prev_level", lag(col("ewma_level"), 1).over(w))
          .select(col("t_day").as("dnum"), col("actual"), col("ewma_level"),
            (col("actual").cast("double") - col("prev_level")).as("residual_vs_forecast"))
          .orderBy("dnum")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
             |      AS dnum,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |pairs AS (
             |  SELECT a.dnum AS t, b.dnum AS sday, b.cnt AS ys,
             |    CAST(round(CAST(b.cnt AS DOUBLE)
             |      * pow(0.7, CAST(a.dnum - b.dnum AS DOUBLE)) * 1e9) AS BIGINT)
             |      AS term_nano,
             |    CAST(round(pow(0.7, CAST(a.dnum - b.dnum AS DOUBLE)) * 1e9) AS BIGINT)
             |      AS wt_nano
             |  FROM daily a JOIN daily b ON b.dnum <= a.dnum),
             |lvl AS (
             |  SELECT t,
             |    CAST(max(CASE WHEN sday = t THEN ys END) AS BIGINT) AS actual,
             |    CAST(sum(term_nano) AS BIGINT) AS num_nano,
             |    CAST(sum(wt_nano) AS BIGINT) AS den_nano
             |  FROM pairs GROUP BY t)
             |SELECT t AS dnum, actual,
             |  CAST(num_nano AS DOUBLE) / CAST(den_nano AS DOUBLE) AS ewma_level,
             |  CAST(actual AS DOUBLE)
             |    - LAG(CAST(num_nano AS DOUBLE) / CAST(den_nano AS DOUBLE), 1)
             |        OVER (ORDER BY t) AS residual_vs_forecast
             |FROM lvl ORDER BY dnum""".stripMargin)),

    // Seasonality-adjusted anomaly days — the composed production alert
    // (deseasonalize, THEN screen): daily event counts minus the
    // day-of-week mean leave residuals that a raw-count screen would
    // misread (weekends look like dips), and the robust MAD gate flags
    // days whose |residual − median| exceeds 3×MAD. All integer
    // cross-multiplied: residual_s = cnt·n_dow − dow_total (scaled by
    // the per-weekday day count), medians/MAD are exact rank-selected
    // lower medians over the ≤ calendar-bounded day table, and the flag
    // compares scaled integers — no division anywhere. The composition
    // is the point: seasonal_weekday_profile says WHAT the rhythm is,
    // robust_mad_screen says what an outlier is, this row wires them
    // into "which days should have paged".
    QueryDef(
      "seasonal_residual_outlier_days",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("dnum"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("dow", expr("(dnum + 4) % 7"))
        val dowTot = daily.groupBy("dow")
          .agg(sum(col("cnt")).as("dow_sum"), count(lit(1)).as("n_dow"))
        val resid = daily.join(broadcast(dowTot), Seq("dow"))
          // residual in exact n_dow-scaled units
          .withColumn("res_s", col("cnt") * col("n_dow") - col("dow_sum"))
          // comparable across weekdays: rescale by the LCM surrogate —
          // multiply by (product of all n_dow)/n_dow? days per weekday
          // differ by at most 1 over any window; normalize instead to
          // per-mille of the weekday mean: res_pm = res_s·1000 div dow_sum
          .withColumn("res_pm", expr("res_s * 1000 div dow_sum"))
        val w = Window.orderBy(col("res_pm"), col("dnum"))
        val nTot = resid.groupBy().agg(count(lit(1)).as("n_days"))
        val med = resid.withColumn("rn", row_number().over(w).cast("long"))
          .join(broadcast(nTot))
          .filter(col("rn") === expr("(n_days + 1) div 2"))
          .select(col("res_pm").as("med_pm"))
        val dev = resid.join(broadcast(med))
          .withColumn("adev", abs(col("res_pm") - col("med_pm")))
        val wD = Window.orderBy(col("adev"), col("dnum"))
        val mad = dev.withColumn("rn", row_number().over(wD).cast("long"))
          .join(broadcast(nTot))
          .filter(col("rn") === expr("(n_days + 1) div 2"))
          .select(col("adev").as("mad_pm"))
        dev.join(broadcast(mad))
          .filter(col("adev") > col("mad_pm") * 3)
          .select(col("dnum"), col("dow"), col("cnt"), col("res_pm"),
            col("med_pm"), col("mad_pm"))
          .orderBy("dnum")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
             |      AS dnum,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |dd AS (SELECT dnum, cnt, (dnum + 4) % 7 AS dow FROM daily),
             |dt AS (SELECT dow, CAST(sum(cnt) AS BIGINT) AS dow_sum,
             |              CAST(count(*) AS BIGINT) AS n_dow FROM dd GROUP BY 1),
             |resid AS (
             |  SELECT dd.dnum, dd.dow, dd.cnt,
             |    (dd.cnt * n_dow - dow_sum) * 1000 // dow_sum AS res_pm
             |  FROM dd JOIN dt USING (dow)),
             |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM resid),
             |med AS (SELECT res_pm AS med_pm FROM (
             |  SELECT res_pm, ROW_NUMBER() OVER (ORDER BY res_pm, dnum) AS rn
             |  FROM resid) r CROSS JOIN nt WHERE rn = (n_days + 1) // 2),
             |dev AS (SELECT resid.*, med_pm, abs(res_pm - med_pm) AS adev
             |        FROM resid CROSS JOIN med),
             |mad AS (SELECT adev AS mad_pm FROM (
             |  SELECT adev, ROW_NUMBER() OVER (ORDER BY adev, dnum) AS rn
             |  FROM dev) x CROSS JOIN nt WHERE rn = (n_days + 1) // 2)
             |SELECT dnum, dow, cnt, res_pm, med_pm, mad_pm
             |FROM dev CROSS JOIN mad
             |WHERE adev > mad_pm * 3
             |ORDER BY dnum""".stripMargin)),

    // One IPF (raking) round — Deming–Stephan iterative proportional
    // fitting, the survey-weighting step every mix-rebalancing pipeline
    // reinvents: scale the (lang × source) doc-count table to hit
    // UNIFORM lang marginals (row step), then uniform source marginals
    // (column step), and report how far the row marginals drifted after
    // the column step (the convergence signal an iterating driver would
    // loop on; one round is the per-batch unit, same contract as the
    // kcore/LPA/Boruvka single-round rows). Weights are nano-quantized
    // integers after each scaling — the FP-order-free discipline — and
    // every marginal sum is an exact BIGINT; the bounded (langs ×
    // sources) grid never leaves map-side scale.
    QueryDef(
      "ipf_raking_step",
      (s, d) => {
        val cells = t(s, d, "documents").groupBy("lang", "source")
          .agg(count(lit(1)).as("n"))
        val nLang = broadcast(cells.groupBy().agg(
          countDistinct(col("lang")).as("n_lang"),
          countDistinct(col("source")).as("n_source"),
          sum(col("n")).as("total")))
        // target marginals: total/n_lang per lang, total/n_source per src
        val rowTot = cells.groupBy("lang").agg(sum(col("n")).as("row_n"))
        val step1 = cells.join(broadcast(rowTot), Seq("lang")).join(nLang)
          // w1 = n · (total/n_lang) / row_n, nano-quantized
          .withColumn("w1_nano",
            round(col("n").cast("double") * col("total").cast("double") /
              (col("n_lang").cast("double") * col("row_n").cast("double")) * lit(1e9))
              .cast("long"))
        val colTot = step1.groupBy("source").agg(sum(col("w1_nano")).as("col_nano"))
        val step2 = step1.join(broadcast(colTot), Seq("source"))
          .withColumn("w2_nano",
            round(col("w1_nano").cast("double") * col("total").cast("double") * lit(1e9) /
              (col("n_source").cast("double") * col("col_nano").cast("double")))
              .cast("long"))
        val drift = step2.groupBy("lang").agg(sum(col("w2_nano")).as("row2_nano"))
        step2.join(broadcast(drift), Seq("lang"))
          .select(col("lang"), col("source"), col("n"), col("w1_nano"),
            col("w2_nano"),
            (abs(col("row2_nano") * col("n_lang") -
              col("total") * lit(1000000000L))).as("row_drift_nano"))
          .orderBy("lang", "source")
      },
      Some("""WITH cells AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1, 2),
             |g AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_lang,
             |             CAST(count(DISTINCT source) AS BIGINT) AS n_source,
             |             CAST(sum(n) AS BIGINT) AS total FROM cells),
             |rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n
             |       FROM cells GROUP BY 1),
             |s1 AS (
             |  SELECT c.lang, c.source, c.n, n_lang, n_source, total,
             |    CAST(round(CAST(c.n AS DOUBLE) * CAST(total AS DOUBLE) /
             |      (CAST(n_lang AS DOUBLE) * CAST(row_n AS DOUBLE)) * 1e9)
             |      AS BIGINT) AS w1_nano
             |  FROM cells c JOIN rt USING (lang) CROSS JOIN g),
             |ct AS (SELECT source, CAST(sum(w1_nano) AS BIGINT) AS col_nano
             |       FROM s1 GROUP BY 1),
             |s2 AS (
             |  SELECT s1.*, 
             |    CAST(round(CAST(w1_nano AS DOUBLE) * CAST(total AS DOUBLE) * 1e9 /
             |      (CAST(n_source AS DOUBLE) * CAST(col_nano AS DOUBLE)))
             |      AS BIGINT) AS w2_nano
             |  FROM s1 JOIN ct USING (source)),
             |dr AS (SELECT lang, CAST(sum(w2_nano) AS BIGINT) AS row2_nano
             |       FROM s2 GROUP BY 1)
             |SELECT s2.lang, s2.source, n, w1_nano, w2_nano,
             |  abs(row2_nano * n_lang - total * 1000000000) AS row_drift_nano
             |FROM s2 JOIN dr ON s2.lang = dr.lang
             |ORDER BY s2.lang, s2.source""".stripMargin)),

    // Split-conformal prediction threshold (Vovk et al.; the
    // distribution-free uncertainty wrapper modern ML serving puts
    // around point predictions): on a deterministic calibration half,
    // per event type, take the ⌈(n_cal+1)·0.9⌉-th smallest
    // nonconformity score (|value − type mean| in exact cents) — the
    // radius giving ≥ 90% finite-sample coverage — then REPORT the
    // realized coverage on the held-out half. Rank selection is a
    // per-type window (keyed, never global); the only doubles are the
    // final coverage ratios. The exchangeability-based guarantee is the
    // whole point: no distributional assumption, exact rank arithmetic.
    QueryDef(
      "conformal_threshold_split",
      (s, d) => {
        val base = t(s, d, "events").select(col("event_type"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
          .withColumn("is_cal",
            PipelineQueries.hashPermille(col("event_id").cast("string"), "conf")
              < 500000L)
        val mu = base.filter(col("is_cal")).groupBy("event_type")
          .agg(sum(col("cents")).as("sc"), count(lit(1)).as("n_cal"))
        val scored = base.join(broadcast(mu), Seq("event_type"))
          // nonconformity in exact cross-multiplied units: |cents·n − Σc|
          .withColumn("nonconf", abs(col("cents") * col("n_cal") - col("sc")))
        val w = Window.partitionBy("event_type").orderBy(col("nonconf"), col("event_id"))
        val thr = scored.filter(col("is_cal"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") === expr("CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)"))
          .select(col("event_type"), col("nonconf").as("q_hat"),
            col("n_cal").as("n_cal_t"))
        scored.filter(!col("is_cal"))
          .join(broadcast(thr), Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("n_cal_t")).as("n_cal"), count(lit(1)).as("n_test"),
            max(col("q_hat")).as("q_hat"),
            sum(when(col("nonconf") <= col("q_hat"), 1L).otherwise(0L))
              .as("n_covered"))
          .withColumn("coverage",
            col("n_covered").cast("double") / col("n_test").cast("double"))
          .orderBy("event_type")
      },
      Some(s"""WITH base AS (
             |  SELECT event_type, event_id,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    (${PipelineQueries.hashSqlExpr("event_id", "conf")}) < 500000
             |      AS is_cal
             |  FROM events),
             |mu AS (
             |  SELECT event_type, CAST(sum(cents) AS BIGINT) AS sc,
             |    CAST(count(*) AS BIGINT) AS n_cal
             |  FROM base WHERE is_cal GROUP BY 1),
             |scored AS (
             |  SELECT b.*, m.sc, m.n_cal,
             |    abs(b.cents * m.n_cal - m.sc) AS nonconf
             |  FROM base b JOIN mu m USING (event_type)),
             |thr AS (
             |  SELECT event_type, nonconf AS q_hat, n_cal FROM (
             |    SELECT event_type, nonconf, n_cal,
             |      ROW_NUMBER() OVER (PARTITION BY event_type
             |        ORDER BY nonconf, event_id) AS rn
             |    FROM scored WHERE is_cal)
             |  WHERE rn = CAST(ceil((n_cal + 1) * 0.9) AS BIGINT))
             |SELECT s.event_type, max(t.n_cal) AS n_cal,
             |  CAST(count(*) AS BIGINT) AS n_test,
             |  max(t.q_hat) AS q_hat,
             |  CAST(sum(CASE WHEN s.nonconf <= t.q_hat THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_covered,
             |  CAST(sum(CASE WHEN s.nonconf <= t.q_hat THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) AS coverage
             |FROM scored s JOIN thr t USING (event_type)
             |WHERE NOT s.is_cal
             |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin)),

    // Differentially-private histogram release — the privacy mechanism
    // itself, made REPRODUCIBLE: per event-type count plus
    // Laplace(sensitivity 1 / ε = 0.5) noise drawn by inverse-CDF from
    // the deterministic md5-uniform (u = (permille + 0.5)/1e6, noise =
    // −b·sign(u−½)·ln(1−2|u−½|)) — the same hash-replaces-RNG discipline
    // as the permutation/bootstrap family, so the released values are
    // bit-identical on both engines AND a rerun releases the SAME noise
    // (re-randomizing on every query would let an analyst average the
    // noise away — deterministic per-release noise is the deployed
    // pattern: derive it from a release nonce). Noise is nano-quantized
    // BEFORE adding to the exact count; true counts ride along here for
    // the audit (a real release drops them).
    QueryDef(
      "dp_noisy_histogram",
      (s, d) => {
        val b = 2.0 // 1/epsilon, epsilon = 0.5
        val g = t(s, d, "events").groupBy("event_type")
          .agg(count(lit(1)).as("n_true"))
          .withColumn("u",
            (PipelineQueries.hashPermille(col("event_type"), "dprel1")
              .cast("double") + lit(0.5)) / lit(1000000.0))
          .withColumn("noise_nano",
            round(lit(-b) * signum(col("u") - lit(0.5)) *
              log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))) * lit(1e9))
              .cast("long"))
        g.select(col("event_type"), col("n_true"), col("noise_nano"),
            (col("n_true").cast("double") +
              col("noise_nano").cast("double") / lit(1e9)).as("n_released"),
            abs(col("noise_nano")).as("abs_err_nano"))
          .orderBy("event_type")
      },
      Some(s"""WITH g AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true,
             |    (CAST((${PipelineQueries.hashSqlExpr("event_type", "dprel1")})
             |      AS DOUBLE) + 0.5) / 1000000.0 AS u
             |  FROM events GROUP BY 1),
             |n AS (
             |  SELECT event_type, n_true,
             |    CAST(round(-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) * 1e9)
             |         AS BIGINT) AS noise_nano
             |  FROM g)
             |SELECT event_type, n_true, noise_nano,
             |  CAST(n_true AS DOUBLE) + CAST(noise_nano AS DOUBLE) / 1e9 AS n_released,
             |  abs(noise_nano) AS abs_err_nano
             |FROM n ORDER BY event_type""".stripMargin)),

    // Benjamini–Hochberg FDR control over a FAMILY of permutation tests —
    // the multiple-testing layer every per-segment monitoring suite needs
    // (five "is this event type's mean value different from the rest?"
    // tests at once inflate false alarms; BH caps the expected false
    // discovery rate at α). Each per-type test is the
    // permutation_test_mean_diff machinery (64 deterministic hash
    // relabelings at the observed type-vs-rest proportions), so every
    // p-value is the exact rational (1+k)/65; the BH step-up
    // "p_(i) ≤ α·i/m" is then evaluated in cross-multiplied INTEGERS
    // (4·(1+k)·m ≤ 65·i at α = 0.25) — no float thresholds anywhere.
    // Scale: the replicate explode is a constant 5·64× of the scan,
    // map-side combined to (type, replicate) partials; the BH ranking is
    // an m-row bounded window.
    QueryDef(
      "bh_fdr_control",
      (s, d) => {
        val base = t(s, d, "events").select(col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
          col("event_id"))
        val tot = base.groupBy("event_type")
          .agg(count(lit(1)).as("na"), sum(col("cents")).as("sa"))
        val grand = tot.agg(sum(col("na")).as("nn"), sum(col("sa")).as("ss"))
        val types = tot.join(grand)
        def meanDiff(saC: org.apache.spark.sql.Column, naC: org.apache.spark.sql.Column) =
          abs(saC.cast("double") / naC.cast("double") -
            (col("ss") - saC).cast("double") / (col("nn") - naC).cast("double"))
        val obs = types.select(col("event_type"), col("na"),
          meanDiff(col("sa"), col("na")).as("obs_diff"))
        val reps = base
          // spread the 64-rep md5 permutation kernel across all cores
          // BEFORE the fanout: the sf-scale lake is 1-2 parquet splits,
          // and without an exchange the multi-M-hash compute inherits
          // that parallelism (honest-materializer finding, r14; same
          // discipline as Dedup.simhash/minhash). Repartitioning the
          // PRE-explode rows keeps the exchange 64× smaller than the
          // stream it parallelizes.
          .repartition(col("event_id"))
          .select(col("event_id"), col("cents"),
            explode(expr("sequence(0, 63)")).as("r"))
          // ONE base hash per (event, rep); each type's permutation is
          // the derived stream (b + c_t) mod 1e6 — marginally uniform per
          // type (a constant shift permutes the uniform b), so every
          // type's permutation test is valid; the cross-type draws are
          // correlated, which BH tolerates (PRDS) and which buys 5× fewer
          // md5 calls — the r14 honest sweep put the per-(event,rep,type)
          // form at the top of the whole bench (32M hashes, 22 s at
          // sf0.1 even on the codegen kernel).
          .withColumn("b", PipelineQueries.hashPermille(
            concat(col("event_id").cast("string"), lit("#"),
              col("r").cast("string")), "bh"))
        // The type dimension is a bounded ENUM (the event-type domain),
        // so it compiles into the aggregate instead of fanning rows out:
        // a broadcast-join-with-types materializes |rows|·|types| joined
        // rows (320M at 10× — the honest bench's top cost even after the
        // kernel hash), where one pass with |types| conditional
        // sum/count pairs touches each (event, rep) row exactly once.
        // The enum collect is the house bounded-lookup class (like the
        // 1-row bound lookups and the eval-ngram cache — bounded by the
        // domain, never by data volume); c_t replays the kernel's own
        // arithmetic driver-side so the compiled constants are the same
        // values the oracle computes in SQL.
        val typeRows = types
          .select(col("event_type"), col("na"), col("nn")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val flips = typeRows.map { case (tname, naT, nn) =>
          val cT = graft.functions.Md5PermilleUtil.permille(
            "bhT:".getBytes(java.nio.charset.StandardCharsets.UTF_8),
            org.apache.spark.unsafe.types.UTF8String.fromString(tname))
          tname -> ((col("b") + lit(cT)) % 1000000L < lit(naT * 1000000L / nn))
        }
        val aggExprs = flips.zipWithIndex.flatMap { case ((_, flip), i) =>
          Seq(sum(when(flip, col("cents"))).as(s"sa_$i"),
            count(when(flip, 1)).as(s"na_$i"))
        }
        val perRep = reps.groupBy("r").agg(aggExprs.head, aggExprs.tail: _*)
        val repsByType = perRep.select(explode(array(
          flips.zipWithIndex.map { case ((tname, _), i) => struct(
            lit(tname).as("tt"), col(s"sa_$i").as("sa_r"),
            col(s"na_$i").as("na_r")) }: _*)).as("s"))
          .select(col("s.tt").as("tt"), col("s.sa_r").as("sa_r"),
            col("s.na_r").as("na_r"))
        val stats = repsByType.join(broadcast(grand))
          .select(col("tt").as("event_type"),
            meanDiff(col("sa_r"), col("na_r")).as("stat"))
        val ks = stats.join(broadcast(obs), Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("na")).as("n_type"), max(col("obs_diff")).as("obs_diff"),
            (sum(when(col("stat") >= col("obs_diff"), 1L).otherwise(0L)) + 1L)
              .as("p_num"))
        val wRank = Window.orderBy(col("p_num"), col("event_type"))
        val wAll = Window.partitionBy(lit(1))
        ks
          .withColumn("bh_rank", row_number().over(wRank).cast("long"))
          .withColumn("pass", expr("4 * p_num * 5 <= 65 * bh_rank"))
          .withColumn("imax",
            max(when(col("pass"), col("bh_rank")).otherwise(lit(0L))).over(wAll))
          .select(col("event_type"), col("n_type"), col("p_num"),
            (col("p_num").cast("double") / lit(65.0)).as("p_value"),
            col("bh_rank"),
            (col("bh_rank") <= col("imax")).as("rejected"))
          .orderBy("bh_rank")
      },
      Some(s"""WITH base AS (
             |  SELECT event_type,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    event_id
             |  FROM events),
             |tot AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS na,
             |    CAST(sum(cents) AS BIGINT) AS sa
             |  FROM base GROUP BY 1),
             |grand AS (SELECT CAST(sum(na) AS BIGINT) AS nn,
             |                 CAST(sum(sa) AS BIGINT) AS ss FROM tot),
             |obs AS (
             |  SELECT event_type, na,
             |    abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
             |      - CAST(ss - sa AS DOUBLE) / CAST(nn - na AS DOUBLE)) AS obs_diff
             |  FROM tot CROSS JOIN grand),
             |hashed AS (
             |  SELECT b.cents, g.r,
             |    (${PipelineQueries.hashSqlExpr(
                    "CAST(b.event_id AS VARCHAR) || '#' || CAST(g.r AS VARCHAR)",
                    "bh")}) AS bh
             |  FROM base b CROSS JOIN (SELECT unnest(range(0, 64)) AS r) g),
             |reps AS (
             |  SELECT t.event_type AS tt, h.r,
             |    CAST(sum(CASE WHEN (h.bh +
             |      (${PipelineQueries.hashSqlExpr("t.event_type", "bhT")}))
             |      % 1000000 < t.na * 1000000 // nn
             |      THEN h.cents END) AS BIGINT) AS sa_r,
             |    CAST(count(CASE WHEN (h.bh +
             |      (${PipelineQueries.hashSqlExpr("t.event_type", "bhT")}))
             |      % 1000000 < t.na * 1000000 // nn
             |      THEN 1 END) AS BIGINT) AS na_r
             |  FROM hashed h
             |  CROSS JOIN tot t CROSS JOIN grand
             |  GROUP BY 1, 2),
             |ks AS (
             |  SELECT o.event_type, o.na AS n_type, o.obs_diff,
             |    CAST(sum(CASE WHEN
             |        abs(CAST(s.sa_r AS DOUBLE) / CAST(s.na_r AS DOUBLE)
             |          - CAST(ss - s.sa_r AS DOUBLE) / CAST(nn - s.na_r AS DOUBLE))
             |        >= o.obs_diff THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p_num
             |  FROM reps s JOIN obs o ON s.tt = o.event_type CROSS JOIN grand
             |  GROUP BY 1, 2, 3),
             |rk AS (
             |  SELECT event_type, n_type, p_num,
             |    ROW_NUMBER() OVER (ORDER BY p_num, event_type) AS bh_rank
             |  FROM ks),
             |mx AS (
             |  SELECT *, max(CASE WHEN 4 * p_num * 5 <= 65 * bh_rank
             |                     THEN bh_rank ELSE 0 END) OVER () AS imax
             |  FROM rk)
             |SELECT event_type, n_type, p_num,
             |  CAST(p_num AS DOUBLE) / 65.0 AS p_value,
             |  CAST(bh_rank AS BIGINT) AS bh_rank,
             |  bh_rank <= imax AS rejected
             |FROM mx ORDER BY bh_rank""".stripMargin)),

    // Theil–Sen robust trend estimator over the daily event-count series:
    // the median of all pairwise day-slopes — immune to the outlier days
    // that bias an OLS fit (the robust sibling of mann_kendall_trend's
    // sign test: MK answers "is there a trend", Theil–Sen answers "how
    // steep"). The pair universe is C(days, 2) — bounded by the CALENDAR
    // (≤ ~500k pairs for 3 years), never by row count, so the pairwise
    // expansion and the median sort run over a domain-bounded aggregate
    // (PlanAudit-clean: every window input descends from the daily
    // aggregate). Median selection: lower median at position
    // (n+1) div 2 in (slope, rise, run) order — slope ties broken by the
    // exact integer pair, so both engines pick the identical row; the
    // slope double is ONE IEEE division of exact BIGINTs.
    QueryDef(
      "theil_sen_slope",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("dnum"))
          .agg(count(lit(1)).as("cnt"))
        val pairs = daily.select(col("dnum").as("lo_day"), col("cnt").as("c1"))
          .crossJoin(broadcast(daily.select(col("dnum").as("hi_day"), col("cnt").as("c2"))))
          .filter(col("lo_day") < col("hi_day"))
          .select((col("c2") - col("c1")).as("rise"), (col("hi_day") - col("lo_day")).as("run"))
          .withColumn("slope", col("rise").cast("double") / col("run").cast("double"))
        val w = Window.orderBy(col("slope"), col("rise"), col("run"))
        pairs
          .withColumn("rn", row_number().over(w).cast("long"))
          .join(broadcast(pairs.groupBy().agg(count(lit(1)).as("n_pairs"))))
          .filter(col("rn") === expr("(n_pairs + 1) div 2"))
          .select(col("n_pairs"), col("rise").as("med_rise"),
            col("run").as("med_run"), col("slope").as("theil_sen_slope"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
             |      AS dnum,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |pairs AS (
             |  SELECT b.cnt - a.cnt AS rise, b.dnum - a.dnum AS run,
             |    CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.dnum - a.dnum AS DOUBLE) AS slope
             |  FROM daily a JOIN daily b ON a.dnum < b.dnum),
             |r AS (
             |  SELECT *, ROW_NUMBER() OVER (ORDER BY slope, rise, run) AS rn,
             |    CAST(count(*) OVER () AS BIGINT) AS n_pairs
             |  FROM pairs)
             |SELECT n_pairs, rise AS med_rise, run AS med_run,
             |  slope AS theil_sen_slope
             |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin)),

    // Theil-T inequality decomposition (Theil 1967) of customer revenue
    // by region — the additive upgrade of gini_revenue_concentration:
    // total inequality splits EXACTLY into between-region and
    // within-region terms, the audit that tells a marketplace whether
    // spend concentration is a geography story or an in-market story.
    // Determinism rides the doc_unigram_surprisal discipline: each
    // customer's ln(x_i·N_g / X_g) quantizes to integer MILLINATS before
    // the revenue-weighted sum, so the per-region aggregate is an exact
    // integer Σ x_i·m_i (cents × millinats < 2^63 at any plausible
    // scale); the only doubles are the final fixed-order divisions. The
    // between term needs one ln per REGION (5 rows). Scale shape: one
    // orders scan → per-customer cents (map-side), two broadcast dim
    // hops, region totals broadcast back — nothing above the customer
    // aggregate is row-proportional.
    QueryDef(
      "theil_inequality_decomp",
      (s, d) => {
        val cust = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("cents"))
          .join(t(s, d, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_nationkey")), "o_custkey")
          .join(broadcast(t(s, d, "nation").select(col("n_nationkey").as("c_nationkey"),
            col("n_regionkey"))), "c_nationkey")
          .join(broadcast(t(s, d, "region").select(col("r_regionkey").as("n_regionkey"),
            col("r_name"))), "n_regionkey")
          .select(col("r_name"), col("cents"))
          .localCheckpoint(true) // region totals + the millinat leg both rescan cust
        val reg = cust.groupBy("r_name")
          .agg(count(lit(1)).as("n_g"), sum("cents").as("x_g"))
        val tot = reg.agg(sum("n_g").as("n"), sum("x_g").as("x"))
        val m = round(lit(1000.0) * log(col("cents").cast("double") *
          col("n_g").cast("double") / col("x_g").cast("double"))).cast("long")
        val within = cust.join(broadcast(reg), "r_name")
          .withColumn("m", m)
          .groupBy("r_name")
          .agg(sum(col("cents") * col("m")).as("s_g"))
        val betweenTerm = round(lit(1000.0) * log(col("x_g").cast("double") *
          col("n").cast("double") / (col("x").cast("double") *
            col("n_g").cast("double")))).cast("long")
        reg.join(within, "r_name").crossJoin(broadcast(tot))
          .withColumn("between_term_millinats", betweenTerm)
          .select(col("r_name"), col("n_g").as("n_customers"),
            col("x_g").as("revenue_cents"),
            (col("s_g").cast("double") / col("x_g").cast("double"))
              .as("t_within_millinats"),
            col("between_term_millinats"),
            (col("x_g").cast("double") / col("x").cast("double") *
              col("between_term_millinats").cast("double"))
              .as("between_contrib_millinats"))
          .orderBy("r_name")
      },
      Some("""WITH cust AS (
             |  SELECT r_name,
             |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             |         AS BIGINT) AS cents
             |  FROM orders
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation ON n_nationkey = c_nationkey
             |  JOIN region ON r_regionkey = n_regionkey
             |  GROUP BY r_name, o_custkey),
             |reg AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n_g,
             |               CAST(sum(cents) AS BIGINT) AS x_g
             |        FROM cust GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
             |               CAST(sum(x_g) AS BIGINT) AS x FROM reg),
             |within AS (
             |  SELECT c.r_name,
             |    CAST(sum(c.cents * CAST(round(1000.0 * ln(
             |      CAST(c.cents AS DOUBLE) * CAST(g.n_g AS DOUBLE)
             |        / CAST(g.x_g AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s_g
             |  FROM cust c JOIN reg g USING (r_name) GROUP BY 1)
             |SELECT g.r_name, g.n_g AS n_customers, g.x_g AS revenue_cents,
             |  CAST(w.s_g AS DOUBLE) / CAST(g.x_g AS DOUBLE)
             |    AS t_within_millinats,
             |  CAST(round(1000.0 * ln(CAST(g.x_g AS DOUBLE) * CAST(n AS DOUBLE)
             |    / (CAST(x AS DOUBLE) * CAST(g.n_g AS DOUBLE)))) AS BIGINT)
             |    AS between_term_millinats,
             |  CAST(g.x_g AS DOUBLE) / CAST(x AS DOUBLE)
             |    * CAST(CAST(round(1000.0 * ln(CAST(g.x_g AS DOUBLE)
             |        * CAST(n AS DOUBLE) / (CAST(x AS DOUBLE)
             |        * CAST(g.n_g AS DOUBLE)))) AS BIGINT) AS DOUBLE)
             |    AS between_contrib_millinats
             |FROM reg g JOIN within w USING (r_name) CROSS JOIN tot
             |ORDER BY r_name""".stripMargin)))
}
