package graft.operators

import graft.QueryDef
import graft.QueryDef.t

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Serving-layer analytics beyond the reference's authored surface
  * (SURVEY.md §2.4 notes Superset issues ad-hoc aggregates at viz time):
  * hierarchical rollups, time-bucketed aggregation, sessionization, and
  * sketch-based distincts.
  */
object AnalyticsQueries {

  /** Create a bucketed+sorted table if this session's catalog lacks it.
    * The catalog is in-memory per JVM while the /tmp warehouse persists,
    * so a fresh session must clear the orphaned location first — the CTAS
    * otherwise throws LOCATION_ALREADY_EXISTS over the previous JVM's
    * files (this killed BENCH_r06). Serialized per-process; cross-process
    * runs are sequential (Verify and Bench never overlap).
    */
  private[operators] def ensureBucketedTable(s: org.apache.spark.sql.SparkSession,
      name: String, key: String, df: => org.apache.spark.sql.DataFrame): Unit =
    synchronized {
      if (!s.catalog.tableExists(name)) {
        val loc = java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
        graft.AtomicPublish.deleteTree(loc)
        df.write.bucketBy(8, key).sortBy(key)
          .mode("overwrite").format("parquet").saveAsTable(name)
      }
    }

  /** Distinct (order, part) purchase items with the merge-join pin — the
    * shared base of every co-purchase graph query (copurchase_pairs,
    * link_prediction_common_nbrs, kcore_peel_round,
    * graph_degree_assortativity). The pin is load-bearing: in round 7 a
    * single un-hinted copy of this subtree let AQE broadcast the
    * ~2M-row build side at 10x — a 42x cliff (BENCH_r07). Keep the hint
    * HERE so no copy can drift.
    */
  private[operators] def copurchaseItems(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .hint("merge")

  /** Undirected part↔supplier edge list with LONG node ids (even =
    * 2·partkey, odd = 2·suppkey+1) — the shared graph of the
    * iterate-to-fixpoint family (pagerank_power_k5, graph_bfs_hops_k3;
    * graph_sssp_bellman_k3 builds the weighted variant inline). Numeric
    * ids keep the loop's entire exchange volume (rank/dist vector + edge
    * table) at 8 bytes per key and make every per-round SMJ compare a
    * long compare (r11: pagerank 10×-smoke shuffle 538 MB with string
    * nodes, halved by this encoding).
    */
  /** Session-scoped cache of materialized graph fixtures — the shared
    * fixture the graph family rides (r10 verdict task #4, widened to the
    * single-round co-purchase consumers in r12): pagerank / BFS / SSSP /
    * HITS / PPR / random-walk consume a
    * [[graft.graph.PageRankLoop.persistedGraph]] over the SAME edge
    * build, and the single-round queries (kcore, ktruss, triangles,
    * louvain, …) consume one checkpointed co-purchase edge table;
    * production would materialize those once per (catalog, day), not
    * once per query. Entries hold DataFrames, which strongly reference
    * their session — a weak-keyed map would never collect them (ADVICE
    * r11) — so the lifetime is managed EXPLICITLY: an ApplicationEnd
    * listener (registered once per session at first use) drops the
    * session's entries when its SparkContext stops, which also frees the
    * checkpointed blocks themselves. Builds are at-most-once per key,
    * memoized per key (ADVICE r12): the map hands out one lazy holder
    * per key under a lock held only for the map insert, and the build
    * itself (which runs Spark jobs) executes inside the HOLDER's lazy
    * initializer — so two racers on the SAME key still build once, while
    * consumers of other keys (or of an already-cached fixture) never
    * block behind an in-flight build. Consumers must NOT unpersist — the
    * cache owns the lifetime.
    *
    * Lifetime assumption (ADVICE r12): entries are evicted on
    * SparkListenerApplicationEnd, i.e. when the CONTEXT stops. Every
    * harness here (Bench / Verify / ScalaTest / the dev mains) is
    * single-session-per-context, so that is exactly session teardown. A
    * server-style embedding that spawns many `newSession()`s over one
    * long-lived context would pin each session's fixtures until the
    * context stops — such an embedding should key this cache by
    * (contextId, sessionId) and sweep on session close; not needed for
    * any in-repo consumer.
    */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, Lazy[org.apache.spark.sql.DataFrame]]]()

  /** Lazy holder with by-name construction — `value` runs the thunk
    * at-most-once under the holder's own monitor (Scala `lazy val`
    * semantics), decoupling build execution from the fixture-map lock.
    */
  private final class Lazy[T](thunk: () => T) { lazy val value: T = thunk() }

  private[operators] def sharedFixture(s: org.apache.spark.sql.SparkSession,
      key: String)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val perSession = fixtureCache.computeIfAbsent(s, session => {
      session.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            fixtureCache.remove(session); ()
          }
        })
      scala.collection.concurrent.TrieMap.empty
    })
    val holder = perSession.synchronized {
      perSession.getOrElseUpdate(key, new Lazy(() => build))
    }
    holder.value
  }

  private[operators] def sharedGraph(s: org.apache.spark.sql.SparkSession,
      key: String)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sharedFixture(s, key)(graft.graph.PageRankLoop.persistedGraph(build))

  /** The checkpointed co-purchase edge table, built once per (session,
    * sfDir) and shared by every single-round consumer that previously
    * paid its own `copurchaseEdges(...).localCheckpoint(true)` — kcore /
    * louvain / label-prop / adamic-adar / assortativity (VERDICT r11
    * task #2: the order self-join + distinct behind those queries was
    * the top of the 10×-smoke shuffle table, rebuilt per query). The two
    * SMJ-pinned queries (copurchase_pairs, link_prediction_common_nbrs's
    * capped subtree) and the ANF stats counter-example keep the LAZY
    * form per the PLANS.md pin-vs-lazy rule — copurchase_pairs is, by
    * design, the one bench entry that still pays (and therefore prices)
    * the raw edge build.
    */
  private[graft] def sharedCopurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    sharedFixture(s, s"copurchase:$d")(
      copurchaseEdges(s, d).localCheckpoint(true))

  /** Colorful (mod-16 monochromatic) sparsified co-purchase edges — the
    * shared base of graph_triangle_census and graph_ktruss_support, both
    * of which enumerate triangles over the SAME one-color-class edge set
    * (Pagh–Tsourakakis). Same fixture discipline as
    * [[sharedCopurchaseEdges]]: one build per (session, sfDir).
    */
  private[operators] def sharedColorfulEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    sharedFixture(s, s"copurchase_mod16:$d") {
      val items = copurchaseItems(s, d)
      items.select(col("l_orderkey"), col("l_partkey").as("a"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
          "l_orderkey")
        .filter(col("a") < col("b") && col("a") % 16 === col("b") % 16)
        .select("a", "b").distinct()
        .localCheckpoint(true)
    }

  private[operators] def partSupplierEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pairs = t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    pairs.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .union(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst")))
  }

  /** Undirected distinct co-purchase edges (a < b) over copurchaseItems.
    *
    * As of r12 every multi-consumer caller rides [[sharedCopurchaseEdges]]
    * (one checkpointed build per session and sfDir) — without a pin Spark
    * re-plans the order self-join per consumer (louvain measured 18 scans
    * / 12 SMJs in r11; link_prediction's lazy form planned it five times
    * in r12). The LAZY form survives in exactly two places:
    * `copurchase_pairs` (the designated edge-build bencher) and
    * `graph_anf_reach_sketch` (the documented pin-rejection — its
    * quadratic truth join needs AQE's scan stats). This builder's own
    * plan carries the anti-broadcast SortMergeJoin pin
    * (PlanSpec "copurchase self-join is pinned to sort-merge").
    */
  private[graft] def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val items = copurchaseItems(s, d)
    items.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
        "l_orderkey")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  val defs: Seq[QueryDef] = Seq(

    // Behavioral sequence mining: the 25 most common 3-event paths across
    // users — LEAD twice over each user's time-ordered stream, then a
    // global path count. The per-user window shuffles once on user_id;
    // the path aggregation is map-side combined down to one row per
    // distinct trigram per task, so the second exchange moves O(paths),
    // not O(events). Ties broken lexicographically for a total order.
    QueryDef(
      "event_trigram_paths",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("e2", lead("event_type", 1).over(w))
          .withColumn("e3", lead("event_type", 2).over(w))
          .filter(col("e3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(25)
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS e1,
             |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
             |  FROM events)
             |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
             |FROM seq WHERE e3 IS NOT NULL
             |GROUP BY 1 ORDER BY n DESC, path LIMIT 25""".stripMargin)),

    // ROLLUP hierarchy (grouping-set family). Decimal-exact sums.
    // r18: computed as one (flag, status) base aggregate + re-aggregated
    // subtotal levels instead of .rollup — the grouping-sets plan Expands
    // the scan 3× into the partial aggregate (3× the agg CPU for the
    // same 6-group result); the base's exchange is reused by all three
    // levels, so the lake is scanned and partially aggregated ONCE. The
    // union multiset is exactly the grouping-sets multiset (each level
    // re-aggregates exact decimals; subtotal columns are NULL), so rows,
    // types, and the final double cast are engine-identical.
    QueryDef(
      "rollup_agg",
      (s, d) => {
        val base = t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("sum_dec"))
        val l0 = base.select(col("l_returnflag"), col("l_linestatus"),
          col("n"), col("sum_dec").cast(DecimalType(38, 2)).as("sum_dec"))
        val l1 = base.groupBy("l_returnflag")
          .agg(sum(col("n")).as("n"), sum(col("sum_dec")).as("sum_dec"))
          .select(col("l_returnflag"), lit(null).cast("string").as("l_linestatus"),
            col("n"), col("sum_dec"))
        val l2 = base.agg(sum(col("n")).as("n"), sum(col("sum_dec")).as("sum_dec"))
          .select(lit(null).cast("string").as("l_returnflag"),
            lit(null).cast("string").as("l_linestatus"), col("n"), col("sum_dec"))
        l0.unionByName(l1).unionByName(l2)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            col("sum_dec").cast("double").as("sum_price"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Tumbling event-time windows — Spark's streaming-compatible window()
    // operator; 1-hour epoch-aligned buckets equal date_trunc on the oracle
    // side.
    QueryDef(
      "window_tumbling_agg",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
                col("n_events"), col("sum_value")),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // HOPPING (sliding) windows — the overlap case tumbling can't
    // express: 30-minute windows advancing every 15, so every event
    // belongs to exactly 2 windows. Spark's window() plans this as a
    // generate (one row per covering window) + ONE hash aggregation —
    // output scales with distinct (window, type) buckets, input rows are
    // expanded duration/slide = 2×, never joined against a window table.
    // The oracle replays the assignment arithmetically: window starts are
    // floor(epoch/slide)·slide − k·slide for k in {0,1} — integer epoch
    // math, boundary semantics [start, start+30min) identical on both
    // engines. The decimal-cast sum keeps the value column exact.
    QueryDef(
      "window_hopping_agg",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
                col("event_type"), col("n_events"), col("sum_value")),
      Some("""SELECT make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
             |    AS window_start,
             |  event_type, count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events, unnest([0, 1]) AS hop(k)
             |GROUP BY 1, 2""".stripMargin)),

    // Time-series gap-fill + forward-fill: densify each user's activity to
    // a contiguous daily grid (sequence + explode — generated distributed,
    // never a driver-side calendar), then carry the last observed daily
    // value across gap days (LOCF). Decimal-cast sums keep the carried
    // value exact; the grid join shuffles on (user_id, day) and the fill
    // is one window over the user's ~30 grid rows — linear at any scale.
    QueryDef(
      "timeseries_gapfill_ffill",
      (s, d) => {
        val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
        val daily = ev.groupBy("user_id", "day")
          .agg(count(lit(1)).as("n"),
               sum(col("value").cast(DecimalType(18, 6))).as("v_dec"))
        val grid = ev.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val w = Window.partitionBy("user_id").orderBy("day")
        grid.join(daily, Seq("user_id", "day"), "left_outer")
          .select(col("user_id"), col("day"),
            coalesce(col("n"), lit(0L)).as("n_events"),
            last(col("v_dec"), ignoreNulls = true).over(w)
              .cast("double").as("v_ffill"))
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
             |daily AS (SELECT user_id, day, count(*) AS n,
             |                 sum(CAST(value AS DECIMAL(18,6))) AS v_dec
             |          FROM ev GROUP BY 1, 2),
             |grid AS (SELECT user_id,
             |           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
             |         FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
             |               FROM ev GROUP BY 1))
             |SELECT g.user_id, g.day, coalesce(d.n, 0) AS n_events,
             |  CAST(last_value(v_dec IGNORE NULLS) OVER (
             |    PARTITION BY g.user_id ORDER BY g.day) AS DOUBLE) AS v_ffill
             |FROM grid g LEFT JOIN daily d
             |  ON g.user_id = d.user_id AND g.day = d.day""".stripMargin)),

    // Time-series gap-fill + LINEAR interpolation — the other standard
    // densification (LOCF above carries a step function; telemetry and
    // rate series want the line between observations). Same distributed
    // grid; the interpolation v = vp + (vn−vp)·(t−tp)/(tn−tp) is
    // evaluated as exact integer micro-units in the numerator
    // (vp·(tn−t) + vn·(t−tp), all BIGINT) with ONE final double
    // division — no accumulated FP, engine-identical by construction.
    // Four bounded windows per user (past/future value+day carries);
    // everything shuffles once on user_id. Both carry directions run
    // INCREMENTAL growing frames (the future carry as last-non-null
    // under day-DESCENDING order, not first-non-null over
    // (currentRow, unboundedFollowing)): Spark re-evaluates shrinking
    // UnboundedFollowing frames from scratch at every row — O(span²)
    // per user — while the descending twin is O(span) after its sort
    // (PLANS.md, the window_funnel_depth frame-direction rule).
    QueryDef(
      "timeseries_gapfill_linear",
      (s, d) => {
        val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
        val daily = ev.groupBy("user_id", "day")
          .agg(count(lit(1)).as("n"),
               sum(col("value").cast(DecimalType(18, 6))).as("v_dec"))
        val grid = ev.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val wPast = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wFut = Window.partitionBy("user_id").orderBy(col("day").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(daily, Seq("user_id", "day"), "left_outer")
          .withColumn("v_mic", (col("v_dec") * lit(1000000)).cast("long"))
          .withColumn("dp", last(when(col("v_mic").isNotNull, col("day")), ignoreNulls = true).over(wPast))
          .withColumn("vp", last(col("v_mic"), ignoreNulls = true).over(wPast))
          .withColumn("dn", last(when(col("v_mic").isNotNull, col("day")), ignoreNulls = true).over(wFut))
          .withColumn("vn", last(col("v_mic"), ignoreNulls = true).over(wFut))
          .select(col("user_id"), col("day"),
            coalesce(col("n"), lit(0L)).as("n_events"),
            when(col("v_mic").isNotNull,
                col("v_mic").cast("double") / lit(1000000.0))
              .when(col("vp").isNull, col("vn").cast("double") / lit(1000000.0))
              .when(col("vn").isNull, col("vp").cast("double") / lit(1000000.0))
              .otherwise(
                (col("vp") * datediff(col("dn"), col("day"))
                  + col("vn") * datediff(col("day"), col("dp"))).cast("double")
                / (datediff(col("dn"), col("dp")).cast("long") * lit(1000000L)).cast("double"))
              .as("v_interp"))
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
             |daily AS (SELECT user_id, day, count(*) AS n,
             |                 CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS v_mic
             |          FROM ev GROUP BY 1, 2),
             |grid AS (SELECT user_id,
             |           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
             |         FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
             |               FROM ev GROUP BY 1)),
             |carried AS (
             |  SELECT g.user_id, g.day, d.n, d.v_mic,
             |    last_value(CASE WHEN d.v_mic IS NOT NULL THEN g.day END IGNORE NULLS)
             |      OVER (PARTITION BY g.user_id ORDER BY g.day
             |            ROWS UNBOUNDED PRECEDING) AS dp,
             |    last_value(d.v_mic IGNORE NULLS)
             |      OVER (PARTITION BY g.user_id ORDER BY g.day
             |            ROWS UNBOUNDED PRECEDING) AS vp,
             |    first_value(CASE WHEN d.v_mic IS NOT NULL THEN g.day END IGNORE NULLS)
             |      OVER (PARTITION BY g.user_id ORDER BY g.day
             |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn,
             |    first_value(d.v_mic IGNORE NULLS)
             |      OVER (PARTITION BY g.user_id ORDER BY g.day
             |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn
             |  FROM grid g LEFT JOIN daily d
             |    ON g.user_id = d.user_id AND g.day = d.day)
             |SELECT user_id, day, coalesce(n, 0) AS n_events,
             |  CASE
             |    WHEN v_mic IS NOT NULL THEN CAST(v_mic AS DOUBLE) / 1000000.0
             |    WHEN vp IS NULL THEN CAST(vn AS DOUBLE) / 1000000.0
             |    WHEN vn IS NULL THEN CAST(vp AS DOUBLE) / 1000000.0
             |    ELSE CAST(vp * datediff('day', day, dn)
             |            + vn * datediff('day', dp, day) AS DOUBLE)
             |         / CAST(datediff('day', dp, dn) * 1000000 AS DOUBLE)
             |  END AS v_interp
             |FROM carried""".stripMargin)),

    // Sessionization: 30-minute inactivity gap → new session (LAG + running
    // conditional sum — the batch shape of streaming session windows).
    QueryDef(
      "events_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prevTs = lag(col("ts"), 1).over(byUser)
        val isNew = when(prevTs.isNull ||
          (unix_millis(col("ts").cast("timestamp")) -
           unix_millis(prevTs.cast("timestamp"))) > 1800000L, 1L).otherwise(0L)
        t(s, d, "events")
          .withColumn("session_seq", sum(isNew).over(run))
          .select("user_id", "event_id", "session_seq")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(SUM(CASE WHEN prev_ts IS NULL
             |           OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
             |FROM (SELECT user_id, event_id, ts,
             |        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |      FROM events)""".stripMargin)),

    // Salt-and-merge sessionization — the HOT-KEY-SAFE twin of
    // events_sessionize, and the "upstream mitigation" that query's
    // SkewStress scaladoc could previously only document (VERDICT r13 task
    // #4). The plain form's per-user window is semantically indivisible:
    // one bot user owning 30% of a 100 TB event log becomes one
    // partition-sized sort task. Here the salt is the TIME AXIS itself —
    // each user's stream splits at fixed 6-hour blocks (blk =
    // epoch_ms div 21 600 000, monotone in ts, so block order IS event
    // order), sessions are counted per (user, block), and block-boundary
    // sessions merge in a second pass whose state is one summary row per
    // (user, block) — bounded by the calendar (≤ 4·days rows per user),
    // never by key mass. Decomposition: session_seq = starts in EARLIER
    // blocks (prefix sum over the per-user block summaries) + starts in
    // the current block up to the current row; a block's first event
    // starts a session iff the gap from the PREVIOUS block's last event
    // exceeds 30 min (lag over existing blocks bridges empty ones), which
    // is exactly the plain form's prev-event test since max(ms) of the
    // previous non-empty block is that event stream's immediate
    // predecessor. Every exchange and window keys on (user_id, blk)
    // except the calendar-bounded block-summary window — measured flat at
    // a 30% hot user (straggler ~1×) where the plain form is the
    // documented straggler. Output is bit-identical to events_sessionize
    // (same oracle SQL; equality also CI-pinned by
    // EventTimeBoundarySpec on boundary-tie fixtures).
    QueryDef(
      "events_sessionize_salted",
      (s, d) => {
        val wBlk = Window.partitionBy("user_id", "blk").orderBy("ts", "event_id")
        val run = wBlk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withIn = t(s, d, "events")
          .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
          .withColumn("blk", expr("unix_millis(CAST(ts AS TIMESTAMP)) div 21600000"))
          .withColumn("prev_ms", lag(col("ms"), 1).over(wBlk))
          .withColumn("inner_new",
            when(col("prev_ms").isNotNull && col("ms") - col("prev_ms") > 1800000L, 1L)
              .otherwise(0L))
        val wBlocks = Window.partitionBy("user_id").orderBy("blk")
        val blocks = withIn.groupBy("user_id", "blk")
          .agg(min("ms").as("first_ms"), max("ms").as("last_ms"),
            sum("inner_new").as("inner_starts"))
        val prevLast = lag(col("last_ms"), 1).over(wBlocks)
        val blk2 = blocks
          .withColumn("first_new",
            when(prevLast.isNull || col("first_ms") - prevLast > 1800000L, 1L)
              .otherwise(0L))
          .withColumn("offset", coalesce(
            sum(col("inner_starts") + col("first_new"))
              .over(wBlocks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("user_id", "blk", "first_new", "offset")
        withIn.join(blk2, Seq("user_id", "blk"))
          .withColumn("start_flag",
            when(col("prev_ms").isNull, col("first_new")).otherwise(col("inner_new")))
          .select(col("user_id"), col("event_id"),
            (col("offset") + sum(col("start_flag")).over(run)).as("session_seq"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(SUM(CASE WHEN prev_ts IS NULL
             |           OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
             |FROM (SELECT user_id, event_id, ts,
             |        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |      FROM events)""".stripMargin)),

    // The ranking-function family over one deterministic total order
    // (unique tiebreak keys keep ties — and therefore rank/ntile output —
    // engine-independent).
    QueryDef(
      "window_rank_family",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          first_value(col("o_orderkey")).over(w).as("biggest_order"),
          percent_rank().over(w).as("prnk"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(rank() OVER w AS BIGINT) AS rnk,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  first_value(o_orderkey) OVER w AS biggest_order,
             |  percent_rank() OVER w AS prnk
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)),

    // RANGE frame over event-time seconds: trailing-30-day spend per
    // customer (range frames include peers — engine-identical given the
    // integer ordering key and decimal-exact sum).
    QueryDef(
      "window_range_frame",
      (s, d) => {
        val epochS = col("o_orderdate").cast("timestamp").cast("long")
        val w = Window.partitionBy("o_custkey").orderBy(epochS)
          .rangeBetween(-2592000L, 0L)
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("spend_30d"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
             |FROM orders""".stripMargin)),

    // GROUPING SETS through the raw spark.sql entry point (the E3 serving
    // contract: tables queryable by name; Catalyst expands the sets the
    // same way DuckDB does).
    QueryDef(
      "grouping_sets_sql",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                |FROM orders_v
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // CUBE: all four grouping combinations in one pass (the member of the
    // rollup/grouping-sets family not yet covered). grouping_id
    // disambiguates aggregated-away NULLs; both engines use the same
    // bit-per-column encoding.
    QueryDef(
      "cube_agg",
      (s, d) => t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
             grouping_id().cast("long").as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // Exact interpolated quantiles. Restricted to an integral-valued
    // column with dyadic fractions so the interpolation arithmetic is
    // exact in both engines (Spark percentile ↔ DuckDB quantile_cont use
    // algebraically equal but differently-associated formulas — only
    // exact inputs make them bit-equal).
    QueryDef(
      "stats_quantiles",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        // Three scalar columns, not one array column: the driver's pandas
        // comparator cannot sort array cells (round-1 comparator crash), and
        // scalar doubles also avoid cross-engine array-repr drift.
        .agg(expr("percentile(l_quantity, 0.25D)").as("q25"),
             expr("percentile(l_quantity, 0.5D)").as("q50"),
             expr("percentile(l_quantity, 0.75D)").as("q75"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS q25,
             |  quantile_cont(l_quantity, 0.5) AS q50,
             |  quantile_cont(l_quantity, 0.75) AS q75,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Histogram via explicit floor bucketing (DuckDB 1.0 has no
    // width_bucket; the formula below is engine-identical double math).
    QueryDef(
      "value_histogram",
      (s, d) => t(s, d, "events")
        .groupBy(floor(col("value") / 10.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
               .cast("double").as("sum_value"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Conversion funnel: first-touch ordering per user (product-analytics
    // shape: two-level aggregation, timestamp comparisons, exact ratio).
    QueryDef(
      "funnel_signup_purchase",
      (s, d) => {
        val perUser = t(s, d, "events").groupBy("user_id").agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        perUser.agg(
          count(when(col("first_signup").isNotNull, 1)).as("n_signed"),
          count(when(col("first_signup").isNotNull &&
                     col("first_purchase") > col("first_signup"), 1)).as("n_converted"))
          .withColumn("conversion_rate",
            col("n_converted").cast("double") / col("n_signed").cast("double"))
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    min(ts) FILTER (event_type = 'signup') AS first_signup,
             |    min(ts) FILTER (event_type = 'purchase') AS first_purchase
             |  FROM events GROUP BY user_id)
             |SELECT
             |  count(*) FILTER (first_signup IS NOT NULL) AS n_signed,
             |  count(*) FILTER (first_signup IS NOT NULL AND first_purchase > first_signup) AS n_converted,
             |  CAST(count(*) FILTER (first_signup IS NOT NULL AND first_purchase > first_signup) AS DOUBLE)
             |    / CAST(count(*) FILTER (first_signup IS NOT NULL) AS DOUBLE) AS conversion_rate
             |FROM u""".stripMargin)),

    // Cohort retention: users bucketed by first-activity week, distinct
    // actives counted per weeks-since-cohort offset. Weeks are encoded as
    // epoch-day DIV 7 integers so both engines group on exact ints (no
    // date_trunc return-type divergence; the testdata spans ~4 weeks).
    QueryDef(
      "cohort_retention",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7 AS BIGINT)").as("wk"))
        val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_active"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS wk
             |  FROM events),
             |coh AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
             |SELECT cohort_wk, wk - cohort_wk AS weeks_since,
             |  count(DISTINCT ev.user_id) AS n_active
             |FROM ev JOIN coh USING (user_id)
             |GROUP BY cohort_wk, weeks_since""".stripMargin)),

    // Interval-overlap via sweep-line: max concurrent open orders per
    // customer, where each order is open [o_orderdate, +30 days). The
    // scale-safe shape for interval overlap counting — one shuffle and a
    // running sum instead of a quadratic interval self-join. End events
    // sort before starts at equal timestamps (delta ASC ⇒ end-exclusive).
    QueryDef(
      "interval_overlap_sweep",
      (s, d) => SweepLine.maxConcurrent(
        t(s, d, "orders").select(col("o_custkey"), col("o_orderdate")),
        "o_custkey", "o_orderdate", expr("INTERVAL 30 DAY"))
        .withColumnRenamed("n_intervals", "n_orders"),
      Some("""WITH sweep AS (
             |  SELECT o_custkey, o_orderdate AS ts, 1 AS delta FROM orders
             |  UNION ALL
             |  SELECT o_custkey, o_orderdate + INTERVAL 30 DAY AS ts, -1 AS delta FROM orders),
             |run AS (
             |  SELECT o_custkey, delta,
             |    CAST(sum(delta) OVER (PARTITION BY o_custkey ORDER BY ts, delta
             |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
             |  FROM sweep)
             |SELECT o_custkey, max(open) AS max_open,
             |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_orders
             |FROM run GROUP BY o_custkey""".stripMargin)),

    // Pure range join (no equi key): events inside the 10 minutes after
    // each purchase, via the binned interval join — a shuffled equi-join
    // on the bin id instead of the nested-loop plan Spark would otherwise
    // pick (RangeJoin Scaladoc; bin width = interval length, so each
    // interval explodes into <=2 bins). The oracle replays the plain theta
    // join, so the binning rewrite itself is hash-checked.
    QueryDef(
      "range_join_binned",
      (s, d) => {
        val ev = t(s, d, "events")
        val us = expr("unix_micros(CAST(ts AS TIMESTAMP))")
        val pts = ev.select(col("event_id").as("pt_id"), us.as("pt_us"), col("value"))
        val iv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), us.as("start_us"),
                  (us + lit(600000000L)).as("end_us"))
        RangeJoin.pointInInterval(pts, iv, "pt_us", "start_us", "end_us",
            binWidth = 600000000L)
          .groupBy("purchase_id")
          .agg(count(lit(1)).as("n_events"),
               sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      },
      Some("""WITH pur AS (
             |  SELECT event_id AS purchase_id, epoch_us(ts) AS s
             |  FROM events WHERE event_type = 'purchase')
             |SELECT purchase_id, count(*) AS n_events,
             |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM pur JOIN events e
             |  ON epoch_us(e.ts) >= s AND epoch_us(e.ts) < s + 600000000
             |GROUP BY purchase_id""".stripMargin)),

    // HLL sketch distincts — the 100 TB path for cardinality (no exact
    // shuffle-the-universe). Sketch internals differ across engines, so the
    // raw estimate can't be hash-compared; instead the output carries the
    // exact count (hash-checked) plus a boolean asserting the estimate
    // landed within 10% of it — the oracle emits the exact count and
    // literal TRUE, making the sketch's accuracy contract itself the thing
    // under test. 10% is ~5 sigma at rsd = 0.02: tight enough to catch a
    // broken sketch, far enough from the tail that a different scale
    // factor or seed can't flip the boolean spuriously (5% was only
    // ~2.5 sigma).
    QueryDef(
      "approx_distinct_users",
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
             count_distinct(col("user_id")).as("exact_users"),
             count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.10).as("approx_within_10pct")),
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  CAST(count(*) AS BIGINT) AS n,
             |  TRUE AS approx_within_10pct
             |FROM events GROUP BY event_type""".stripMargin)),

    // The value-function window family (first/last/nth over explicit
    // frames) — completes the window matrix next to the rank family and
    // framed sums: per user, each event sees the first, most recent, and
    // 3rd event values of its history-so-far frame. last_value over the
    // default frame is the running current row's value; the
    // unbounded-preceding frame makes first/nth the per-key "initial
    // state" lookups an SCD2 consumer runs.
    QueryDef(
      "window_value_family",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            first(col("value")).over(w).as("first_v"),
            last(col("value")).over(w).as("running_v"),
            nth_value(col("value"), 3).over(w).as("third_v"))
      },
      Some("""SELECT user_id, event_id, value,
             |  first_value(value) OVER w AS first_v,
             |  last_value(value) OVER w AS running_v,
             |  nth_value(value, 3) OVER w AS third_v
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // One PageRank power-iteration over the part→supplier bipartite graph
    // (edges = distinct supply pairs from lineitem): each part splits a
    // unit of mass across its suppliers; a supplier's new score is the
    // mass received. The iterative-graph-analytics shape on Spark — join
    // edges to out-degrees (both sides keyed on partkey, one exchange
    // reused), then aggregate on the destination key (second shuffle);
    // N iterations = N such rounds over a cached edge table. Mass is
    // FIXED-POINT (1e6 div outdeg, integer): exact on both engines where
    // a double 1/outdeg sum would be shuffle-order-dependent.
    QueryDef(
      "pagerank_one_step",
      (s, d) => {
        val edges = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val outdeg = edges.groupBy("l_partkey")
          .agg(count(lit(1)).as("outdeg"))
        edges.join(outdeg, "l_partkey")
          .groupBy(col("l_suppkey"))
          .agg(sum(expr("1000000L div outdeg")).as("score_fp"),
               count(lit(1)).as("n_in_edges"))
      },
      Some("""WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |deg AS (SELECT l_partkey, count(*) AS outdeg FROM edges GROUP BY 1)
             |SELECT l_suppkey, CAST(sum(1000000 // outdeg) AS BIGINT) AS score_fp,
             |  count(*) AS n_in_edges
             |FROM edges JOIN deg USING (l_partkey)
             |GROUP BY l_suppkey""".stripMargin)),

    // Five full PageRank power iterations (damping 0.85) over the
    // UNDIRECTED part↔supplier graph — the multi-round driver-side
    // iteration story: each round is one join + one aggregate over a
    // localCheckpoint-pinned edge table, and each new rank vector is
    // checkpointed before the next round so the lineage stays one-round
    // deep (the `Dedup.connectedComponents` discipline — without the
    // pin, round k re-expands rounds 1..k-1 and the plan blows up
    // exponentially). Arithmetic is FIXED-POINT integer end-to-end:
    // total mass 1e12, contribution = r div outdeg, update
    // r' = (15·(1e12 div N)) div 100 + (85·Σcontrib) div 100 — every
    // step is order-independent BIGINT, so five rounds replay exactly
    // in DuckDB (a double 1/outdeg sum would drift by shuffle order by
    // round 2). Mass bounds are corpus-independent (Σr ≤ 1e12, ×85
    // ≤ 8.5e13 ≪ 2^63), so the arithmetic survives any scale; the
    // undirected bipartite edges mean no dangling nodes (every src has
    // outdeg ≥ 1) and mass circulates instead of draining. The 1-row
    // node count rides a checkpointed broadcast cross join — no
    // driver-side collect anywhere in the loop.
    QueryDef(
      "pagerank_power_k5",
      (s, d) => {
        // LONG node ids (even = part, odd = supplier) instead of "p"/"s"
        // string prefixes: the rank vector and edge table are the loop's
        // entire exchange volume, and numeric ids halve the bytes AND
        // make every SMJ compare a long compare (r11: 10x-smoke shuffle
        // 538 MB with string nodes)
        // loop body lives in graph.PageRankLoop so PlanSpec can pin the
        // per-round plan (zero exchange/sort on the persisted edge side;
        // only the node-proportional rank vector moves per round); the
        // materialized graph is the session-shared fixture of the whole
        // loop family
        val graph = sharedGraph(s, s"ps:$d")(partSupplierEdges(s, d))
        val nB = graph.select("src").distinct()
          .agg(count(lit(1)).as("n_nodes")).localCheckpoint(false)
        // r18 (VERDICT r17 item 2): the per-round eager localCheckpoint is
        // gone — each round's rank vector has exactly ONE consumer (the
        // next round), so the 5 rounds chain lazily into ONE job instead
        // of 5 synchronous job dispatches, and nextRanks' explicit
        // rekeyToGraph pins the rank side to the cache's size-based
        // partition count (loop_scaling_r18.json: A 4.9 s → E 1.6 s at sf0.1/32
        // cores; 8v32 ratio 0.75). Plan depth is k=5 joins — trivial.
        // BFS/SSSP keep their per-round pins: their dist table has TWO
        // consumers per round (frontier filter + union), which doubles
        // lineage per round without a pin. r18 second pass: those pins —
        // and nB above — are now LAZY (eager=false): the LogicalRDD leaf
        // still truncates lineage at plan time, but materialization folds
        // into the query's own job instead of a synchronous dispatch per
        // pin (OPTIMIZATION_r18.md HITS A/B: eager 2.24 s vs lazy 1.74 s on the HITS
        // 6-pin chain; bfs 0.81×/pagerank 0.86× in the catalog-context
        // interleave). ppr is the measured exception and keeps eager pins
        // (see its comment).
        var ranks = graft.graph.PageRankLoop.initRanks(graph, nB)
        for (_ <- 1 to 5) {
          ranks = graft.graph.PageRankLoop.nextRanks(graph, ranks, nB)
        }
        ranks.select(col("node"), col("r").as("score_fp"))
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |edges AS (
             |  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
             |  UNION ALL
             |  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs),
             |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
             |nn AS (SELECT count(*) AS n_nodes FROM deg),
             |base AS (SELECT (15 * (1000000000000 // n_nodes)) // 100 AS b FROM nn),
             |r0 AS (SELECT src AS node,
             |  CAST(1000000000000 // n_nodes AS BIGINT) AS r FROM deg, nn),
             |r1 AS (SELECT x.node, CAST(bb.b + (85 * x.inmass) // 100 AS BIGINT) AS r
             |  FROM (SELECT e.dst AS node, sum(rr.r // d.outdeg) AS inmass
             |        FROM edges e JOIN deg d ON d.src = e.src
             |        JOIN r0 rr ON rr.node = e.src GROUP BY 1) x, base bb),
             |r2 AS (SELECT x.node, CAST(bb.b + (85 * x.inmass) // 100 AS BIGINT) AS r
             |  FROM (SELECT e.dst AS node, sum(rr.r // d.outdeg) AS inmass
             |        FROM edges e JOIN deg d ON d.src = e.src
             |        JOIN r1 rr ON rr.node = e.src GROUP BY 1) x, base bb),
             |r3 AS (SELECT x.node, CAST(bb.b + (85 * x.inmass) // 100 AS BIGINT) AS r
             |  FROM (SELECT e.dst AS node, sum(rr.r // d.outdeg) AS inmass
             |        FROM edges e JOIN deg d ON d.src = e.src
             |        JOIN r2 rr ON rr.node = e.src GROUP BY 1) x, base bb),
             |r4 AS (SELECT x.node, CAST(bb.b + (85 * x.inmass) // 100 AS BIGINT) AS r
             |  FROM (SELECT e.dst AS node, sum(rr.r // d.outdeg) AS inmass
             |        FROM edges e JOIN deg d ON d.src = e.src
             |        JOIN r3 rr ON rr.node = e.src GROUP BY 1) x, base bb),
             |r5 AS (SELECT x.node, CAST(bb.b + (85 * x.inmass) // 100 AS BIGINT) AS r
             |  FROM (SELECT e.dst AS node, sum(rr.r // d.outdeg) AS inmass
             |        FROM edges e JOIN deg d ON d.src = e.src
             |        JOIN r4 rr ON rr.node = e.src GROUP BY 1) x, base bb)
             |SELECT node, r AS score_fp FROM r5""".stripMargin)),

    // Frontier BFS, three rounds — minimum hop count from a deterministic
    // ~2% seed set (md5-permille < 20) over the same undirected
    // part↔supplier graph, the second multi-round iterative operator on
    // the pagerank_power_k5 loop discipline: per round, ONLY the frontier
    // (nodes first reached last round) joins the persisted hash(src)-
    // partitioned edge table (zero exchange/sort on the edge side — the
    // PlanSpec-pinned PageRankLoop shape), and the merged distance table
    // is localCheckpoint-pinned so lineage stays one round deep. This is
    // the label-propagating traversal primitive (reachability, taint/
    // lineage spread, influence radius) that joins the engine's iterate-
    // to-fixpoint family; cost per round is O(frontier·deg-capped edges),
    // never O(nodes·edges). All integer; three chained CTEs replay it
    // exactly in DuckDB.
    QueryDef(
      "graph_bfs_hops_k3",
      (s, d) => {
        val graph = sharedGraph(s, s"ps:$d")(partSupplierEdges(s, d))
        var dist = graph.select(col("src").as("node")).distinct()
          .filter(PipelineQueries.hashPermille(col("node"), "bfs") < 20000L)
          .withColumn("d", lit(0L))
          .localCheckpoint(false)
        for (k <- 1 to 3) {
          val frontier = dist.filter(col("d") === (k - 1))
            .withColumnRenamed("node", "src")
          val reached = graph.hint("merge").join(frontier, "src")
            .select(col("dst").as("node"), lit(k.toLong).as("d"))
          dist = dist.unionByName(reached)
            .groupBy("node").agg(min(col("d")).as("d"))
            .localCheckpoint(false)
        }
        dist.select(col("node"), col("d").as("min_hops")).orderBy("node")
      },
      Some(s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |edges AS (
             |  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
             |  UNION ALL
             |  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs),
             |nodes AS (SELECT DISTINCT CAST(src AS BIGINT) AS node FROM edges),
             |d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM nodes
             |       WHERE ${PipelineQueries.hashSqlExpr("node", "bfs")} < 20000),
             |d1 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |  SELECT * FROM d0 UNION ALL
             |  SELECT e.dst AS node, 1 AS d FROM edges e
             |  JOIN d0 f ON f.node = e.src AND f.d = 0) GROUP BY node),
             |d2 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |  SELECT * FROM d1 UNION ALL
             |  SELECT e.dst AS node, 2 AS d FROM edges e
             |  JOIN d1 f ON f.node = e.src AND f.d = 1) GROUP BY node),
             |d3 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |  SELECT * FROM d2 UNION ALL
             |  SELECT e.dst AS node, 3 AS d FROM edges e
             |  JOIN d2 f ON f.node = e.src AND f.d = 2) GROUP BY node)
             |SELECT node, d AS min_hops FROM d3 ORDER BY node""".stripMargin)),

    // Weighted single-source-set shortest paths, three Bellman-Ford
    // relaxation rounds — the third member of the iterate-to-fixpoint
    // family on the PageRankLoop discipline (edge weight = min quantity
    // ever shipped for the part↔supplier pair, integral 1..50 so the
    // double→BIGINT narrowing is exact on both engines). Per round, ONLY
    // the frontier (nodes whose distance improved last round) joins the
    // persisted hash(src)-partitioned edge table — zero exchange/sort on
    // the edge side, the PlanSpec-pinned PageRankLoop round shape — and
    // the merged distance table is localCheckpoint-pinned so lineage
    // stays one round deep. The frontier restriction is the classic SPFA
    // invariant and provably result-identical to full relaxation: a node
    // whose distance did NOT improve in round k already propagated that
    // value in an earlier round, so its round-k+1 relaxations are
    // subsumed (GraphSsspSpec asserts the equivalence on real data); the
    // DuckDB oracle replays the simpler full-relaxation form. Distances
    // are BIGINT (≤ 3·50), order-independent under min — bit-exact
    // replay. Cost per round is O(frontier·edges-of-frontier), never
    // O(nodes·edges): at 100 TB the frontier decays as the wavefront
    // passes, exactly like graph_bfs_hops_k3's.
    QueryDef(
      "graph_sssp_bellman_k3",
      (s, d) => {
        val pairs = t(s, d, "lineitem")
          .groupBy("l_partkey", "l_suppkey")
          .agg(min(col("l_quantity")).cast("long").as("w"))
        val edges = pairs
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"), col("w"))
          .unionByName(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst"), col("w")))
        // persistedGraph keeps extra edge columns: (src, dst, w, outdeg)
        val graph = sharedGraph(s, s"ps_w:$d")(edges)
        var dist = graph.select(col("src").as("node")).distinct()
          .filter(PipelineQueries.hashPermille(col("node"), "sssp") < 20000L)
          .select(col("node"), lit(0L).as("d"), lit(true).as("changed"))
          .localCheckpoint(false)
        val Inf = Long.MaxValue
        for (_ <- 1 to 3) {
          val frontier = dist.filter(col("changed"))
            .select(col("node").as("src"), col("d"))
          val relaxed = graph.hint("merge").join(frontier, "src")
            .select(col("dst").as("node"), (col("d") + col("w")).as("d"),
              lit(true).as("isnew"))
          // merge old + relaxed in ONE aggregate (the BFS union shape —
          // a full_outer join here measured ~3× the per-round cost):
          // changed ⟺ the round's min improves on the settled distance
          dist = dist.select(col("node"), col("d"), lit(false).as("isnew"))
            .unionByName(relaxed)
            .groupBy("node")
            .agg(min(col("d")).as("nd"),
              min(when(!col("isnew"), col("d"))).as("old_d"))
            .select(col("node"), col("nd").as("d"),
              (col("nd") < coalesce(col("old_d"), lit(Inf))).as("changed"))
            .localCheckpoint(false)
        }
        dist.select(col("node"), col("d").as("min_cost")).orderBy("node")
      },
      Some(s"""WITH pairs AS (SELECT l_partkey, l_suppkey,
             |  CAST(min(l_quantity) AS BIGINT) AS w FROM lineitem GROUP BY 1, 2),
             |edges AS (
             |  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst, w FROM pairs
             |  UNION ALL
             |  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst, w FROM pairs),
             |nodes AS (SELECT DISTINCT CAST(src AS BIGINT) AS node FROM edges),
             |d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM nodes
             |       WHERE ${PipelineQueries.hashSqlExpr("node", "sssp")} < 20000),
             |d1 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |  SELECT * FROM d0 UNION ALL
             |  SELECT e.dst AS node, f.d + e.w AS d FROM edges e
             |  JOIN d0 f ON f.node = e.src) GROUP BY node),
             |d2 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |  SELECT * FROM d1 UNION ALL
             |  SELECT e.dst AS node, f.d + e.w AS d FROM edges e
             |  JOIN d1 f ON f.node = e.src) GROUP BY node),
             |d3 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
             |  SELECT * FROM d2 UNION ALL
             |  SELECT e.dst AS node, f.d + e.w AS d FROM edges e
             |  JOIN d2 f ON f.node = e.src) GROUP BY node)
             |SELECT node, d AS min_cost FROM d3 ORDER BY node""".stripMargin)),

    // HITS hubs-and-authorities, three power-iteration rounds over the
    // DIRECTED part→supplier purchase graph — the iterate-to-fixpoint
    // family's normalization-in-loop shape: unlike pagerank (whose damping
    // keeps total mass constant by construction), each HITS half-round
    // must L1-renormalize its vector, and that global sum rides the same
    // 1-row checkpointed broadcast cross join as pagerank's node count —
    // no driver collect. Each half-round is one merge join + one
    // aggregate; the hub→auth half consumes the src-partitioned persisted
    // edge table and the auth→hub half a REVERSED persisted copy, so BOTH
    // orientations enter their joins with zero exchange/sort (the
    // PlanSpec-pinned PageRankLoop contract) and only the node-
    // proportional score vectors move. Arithmetic: raw sums in
    // DECIMAL(38,0) (Spark) / HUGEINT (DuckDB — its BIGINT sum widens
    // automatically), normalized by integral division to a BIGINT vector
    // of total mass 1e12 — decimal never reaches an output column (the
    // t_closeness rule), and every step is order-independent, so three
    // rounds replay bit-exactly in DuckDB.
    QueryDef(
      "hits_power_k3",
      (s, d) => {
        val pairs = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val fwd = pairs.select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        // half-round + normalize live in graph.HitsLoop so PlanSpec can
        // pin the per-half-round plan (zero exchange/sort on either
        // persisted orientation; only the score vector moves)
        val bySrc = sharedGraph(s, s"hits_fwd:$d")(fwd)
        val byDst = sharedGraph(s, s"hits_rev:$d")(
          fwd.select(col("dst").as("src"), col("src").as("dst")))
        var hubs = bySrc.select(col("src").as("node")).distinct()
          .withColumn("h", lit(1000000L)).localCheckpoint(false)
        var auths: org.apache.spark.sql.DataFrame = null
        for (_ <- 1 to 3) {
          // normalize checkpoints the half-round's raw sums internally
          // (total + projection share one materialization); the returned
          // vector is a projection over that pinned leaf — no second
          // checkpoint needed
          auths = graft.graph.HitsLoop.normalize(
            graft.graph.HitsLoop.halfRound(bySrc, hubs, "h"), "a")
          hubs = graft.graph.HitsLoop.normalize(
            graft.graph.HitsLoop.halfRound(byDst, auths, "a"), "h")
        }
        auths.select(col("node"), lit("auth").as("kind"), col("a").as("score"))
          .unionByName(hubs.select(col("node"), lit("hub").as("kind"),
            col("h").as("score")))
          .orderBy("kind", "node")
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |e AS (SELECT 2 * l_partkey AS p, 2 * l_suppkey + 1 AS s FROM pairs),
             |h0 AS (SELECT DISTINCT p AS node, CAST(1000000 AS BIGINT) AS h FROM e),
             |a1r AS (SELECT e.s AS node, sum(h.h) AS raw FROM e
             |        JOIN h0 h ON h.node = e.p GROUP BY 1),
             |a1 AS (SELECT node, CAST((raw * 1000000000000)
             |  // (SELECT sum(raw) FROM a1r) AS BIGINT) AS a FROM a1r),
             |h1r AS (SELECT e.p AS node, sum(a.a) AS raw FROM e
             |        JOIN a1 a ON a.node = e.s GROUP BY 1),
             |h1 AS (SELECT node, CAST((raw * 1000000000000)
             |  // (SELECT sum(raw) FROM h1r) AS BIGINT) AS h FROM h1r),
             |a2r AS (SELECT e.s AS node, sum(h.h) AS raw FROM e
             |        JOIN h1 h ON h.node = e.p GROUP BY 1),
             |a2 AS (SELECT node, CAST((raw * 1000000000000)
             |  // (SELECT sum(raw) FROM a2r) AS BIGINT) AS a FROM a2r),
             |h2r AS (SELECT e.p AS node, sum(a.a) AS raw FROM e
             |        JOIN a2 a ON a.node = e.s GROUP BY 1),
             |h2 AS (SELECT node, CAST((raw * 1000000000000)
             |  // (SELECT sum(raw) FROM h2r) AS BIGINT) AS h FROM h2r),
             |a3r AS (SELECT e.s AS node, sum(h.h) AS raw FROM e
             |        JOIN h2 h ON h.node = e.p GROUP BY 1),
             |a3 AS (SELECT node, CAST((raw * 1000000000000)
             |  // (SELECT sum(raw) FROM a3r) AS BIGINT) AS a FROM a3r),
             |h3r AS (SELECT e.p AS node, sum(a.a) AS raw FROM e
             |        JOIN a3 a ON a.node = e.s GROUP BY 1),
             |h3 AS (SELECT node, CAST((raw * 1000000000000)
             |  // (SELECT sum(raw) FROM h3r) AS BIGINT) AS h FROM h3r)
             |SELECT node, 'auth' AS kind, a AS score FROM a3
             |UNION ALL SELECT node, 'hub' AS kind, h AS score FROM h3
             |ORDER BY kind, node""".stripMargin)),

    // Personalized PageRank, three power rounds restarting to a
    // deterministic ~2% seed set — the seed-biased variant of
    // pagerank_power_k5 that drives graph-based retrieval and
    // recommendation ("rank everything by proximity to THESE docs").
    // Two scale deltas vs the global walk: the teleport term lands only
    // on seeds (a hash predicate evaluated inline — no seed-set join,
    // no broadcast of a node-proportional table), and the rank vector
    // starts SPARSE (seeds only) and fills in as mass diffuses, so
    // early rounds move frontier-sized vectors, not node-sized ones.
    // Per round: one merge join against the persisted hash(src) edge
    // table (zero exchange/sort on the edge side — the PlanSpec-pinned
    // PageRankLoop contract), then the BFS-style union-aggregate folds
    // diffused mass and restart mass in ONE exchange. All-BIGINT
    // fixed-point arithmetic (mass 1e12, ×85 ≪ 2^63) replays bit-exact
    // in DuckDB.
    QueryDef(
      "ppr_seed_restart_k3",
      (s, d) => {
        val graph = sharedGraph(s, s"ps:$d")(partSupplierEdges(s, d))
        val Total = graft.graph.PageRankLoop.TotalMass
        val seeds = graph.select(col("src").as("node")).distinct()
          .filter(PipelineQueries.hashPermille(col("node"), "ppr") < 20000L)
        // r18 second pass: sB/restart KEEP the eager pin — the lazy-pin
        // sweep that converted the rest of the loop family (the HITS rule)
        // measured ppr at 1.56-1.57 s lazy vs 1.41 s eager (best-of-3,
        // twice): restart is consumed by all three rounds inside
        // one job, and deferring its materialization serializes the rounds
        // behind its first compute.
        val sB = seeds.agg(count(lit(1)).as("n_seeds")).localCheckpoint(true)
        val restart = seeds.crossJoin(broadcast(sB))
          .select(col("node"),
            expr(s"(15 * ($Total div n_seeds)) div 100").as("m"))
          .localCheckpoint(true)
        // r18: per-round eager pins removed (the pagerank_power_k5 rule —
        // r has ONE consumer per round, so the 3 rounds chain lazily into
        // one job); the join side rides rekeyToGraph so the round's merge
        // join stays zero-exchange on the cached edge side at its
        // size-based partition count. restart/sB keep their pins: both
        // are consumed every round.
        var r = seeds.crossJoin(broadcast(sB))
          .select(col("node"), expr(s"$Total div n_seeds").as("r"))
        for (_ <- 1 to 3) {
          val inm = graph.hint("merge")
            .join(graft.graph.PageRankLoop.rekeyToGraph(graph, r), "src")
            .select(col("dst").as("node"), expr("r div outdeg").as("c"))
            .groupBy("node").agg(sum(col("c")).as("inmass"))
          r = inm.select(col("node"), expr("(85 * inmass) div 100").as("m"))
            .unionByName(restart)
            .groupBy("node").agg(sum(col("m")).as("r"))
        }
        r.select(col("node"), col("r").as("ppr_mass")).orderBy("node")
      },
      Some(s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |edges AS (
             |  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
             |  UNION ALL
             |  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
             |        FROM edges GROUP BY 1),
             |nodes AS (SELECT DISTINCT CAST(src AS BIGINT) AS node FROM edges),
             |seeds AS (SELECT node FROM nodes
             |          WHERE ${PipelineQueries.hashSqlExpr("node", "ppr")} < 20000),
             |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_seeds FROM seeds),
             |rst AS (SELECT node, (15 * (1000000000000 // n_seeds)) // 100 AS m
             |        FROM seeds CROSS JOIN sc),
             |r0 AS (SELECT node, 1000000000000 // n_seeds AS r
             |       FROM seeds CROSS JOIN sc),
             |r1 AS (SELECT node, CAST(sum(m) AS BIGINT) AS r FROM (
             |  SELECT e.dst AS node, (85 * sum(f.r // d.outdeg)) // 100 AS m
             |  FROM edges e JOIN deg d ON d.src = e.src
             |  JOIN r0 f ON f.node = e.src GROUP BY e.dst
             |  UNION ALL SELECT node, m FROM rst) GROUP BY node),
             |r2 AS (SELECT node, CAST(sum(m) AS BIGINT) AS r FROM (
             |  SELECT e.dst AS node, (85 * sum(f.r // d.outdeg)) // 100 AS m
             |  FROM edges e JOIN deg d ON d.src = e.src
             |  JOIN r1 f ON f.node = e.src GROUP BY e.dst
             |  UNION ALL SELECT node, m FROM rst) GROUP BY node),
             |r3 AS (SELECT node, CAST(sum(m) AS BIGINT) AS r FROM (
             |  SELECT e.dst AS node, (85 * sum(f.r // d.outdeg)) // 100 AS m
             |  FROM edges e JOIN deg d ON d.src = e.src
             |  JOIN r2 f ON f.node = e.src GROUP BY e.dst
             |  UNION ALL SELECT node, m FROM rst) GROUP BY node)
             |SELECT node, r AS ppr_mass FROM r3 ORDER BY node""".stripMargin)),

    // One parallel Louvain local-move round over the co-purchase graph —
    // community detection's workhorse step: every node simultaneously
    // picks the neighboring community (or its own) maximizing the exact
    // modularity gain, from the %16 starting partition that
    // graph_modularity_audit scores. The gain comparison is fully
    // cross-multiplied integer arithmetic — score(i,C) = 2m·k_{i,C} −
    // k_i·(Σtot(C) − [C = c(i)]·k_i), the ΔQ numerator over a constant
    // 4m² — so argmax + deterministic tie-break (smallest community id,
    // via one max-of-struct aggregate, no per-node sort) replays
    // bit-exactly in DuckDB. Scale shape: neighbor-community mass
    // k_{i,C} is ONE edge-proportional map-side-combined aggregate; the
    // 16-row community totals ride a broadcast; nothing is quadratic —
    // the only heavy subtree is the co-purchase edge build itself,
    // benched once under copurchase_pairs.
    QueryDef(
      "louvain_move_round",
      (s, d) => {
        // the edge table feeds FOUR consumers (deg twice via the join and
        // the community totals, k_ic, and 2m) — without the pin the plan
        // rebuilds the order self-join per consumer (measured: 18 scans,
        // 12 SMJs); one localCheckpoint makes it the loop family's
        // persisted-edge shape (edge list ≪ corpus)
        val e = sharedCopurchaseEdges(s, d)
        val und = e.select(col("a").as("node"), col("b").as("nbr"))
          .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
        val deg = und.groupBy("node").agg(count(lit(1)).as("k"))
        val mB = e.agg(count(lit(1)).as("m")).localCheckpoint(true)
        val tot = deg.groupBy((col("node") % 16).as("c"))
          .agg(sum(col("k")).as("s_tot"))
        val kic = und.groupBy(col("node"), (col("nbr") % 16).as("c"))
          .agg(count(lit(1)).as("k_ic"))
        val cand = kic
          .unionByName(deg.select(col("node"), (col("node") % 16).as("c"),
            lit(0L).as("k_ic")))
          .groupBy("node", "c").agg(sum(col("k_ic")).as("k_ic"))
        cand.join(deg, "node").join(broadcast(tot), "c")
          .crossJoin(broadcast(mB))
          .select(col("node"), (col("node") % 16).as("c_old"), col("c"),
            (lit(2L) * col("m") * col("k_ic") - col("k") *
              (col("s_tot") - when(col("c") === col("node") % 16, col("k"))
                .otherwise(lit(0L)))).as("score"))
          .groupBy("node", "c_old")
          .agg(max(struct(col("score"), (-col("c")).as("negc"))).as("best"))
          .select(col("node"), col("c_old"),
            (-col("best.negc")).as("c_new"), col("best.score").as("gain_score"))
          .withColumn("moved", col("c_new") =!= col("c_old"))
          .orderBy("node")
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |      FROM items x JOIN items y
             |        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
             |und AS (SELECT a AS node, b AS nbr FROM e
             |        UNION ALL SELECT b, a FROM e),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS k
             |        FROM und GROUP BY 1),
             |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
             |tot AS (SELECT node % 16 AS c, CAST(sum(k) AS BIGINT) AS s_tot
             |        FROM deg GROUP BY 1),
             |kic AS (SELECT node, nbr % 16 AS c, CAST(count(*) AS BIGINT) AS k_ic
             |        FROM und GROUP BY 1, 2),
             |cand AS (SELECT node, c, CAST(sum(k_ic) AS BIGINT) AS k_ic FROM (
             |  SELECT node, c, k_ic FROM kic
             |  UNION ALL SELECT node, node % 16, 0 FROM deg) GROUP BY 1, 2),
             |sc AS (SELECT cand.node, cand.node % 16 AS c_old, cand.c,
             |  2 * m * cand.k_ic - d.k * (tot.s_tot -
             |    CASE WHEN cand.c = cand.node % 16 THEN d.k ELSE 0 END) AS score
             |  FROM cand JOIN deg d ON d.node = cand.node
             |  JOIN tot ON tot.c = cand.c CROSS JOIN mm),
             |pick AS (SELECT node, c_old, c AS c_new, score,
             |  row_number() OVER (PARTITION BY node
             |                     ORDER BY score DESC, c) AS rn FROM sc)
             |SELECT node, c_old, c_new, score AS gain_score,
             |  c_new <> c_old AS moved
             |FROM pick WHERE rn = 1 ORDER BY node""".stripMargin)),

    // Deterministic random walks, three steps from the BFS seed set —
    // the sampling primitive under DeepWalk/node2vec-style graph
    // embeddings: each walker steps to the neighbor minimizing a
    // per-(walker, step) md5 draw, so the "random" choice is a pure
    // function both engines compute identically (the same contract the
    // hash-split/sampling family rides). Per step the walker table —
    // CONSTANT-sized (one row per seed, forever) — merge joins the
    // persisted hash(src) edge table (zero exchange/sort on the edge
    // side), and the argmin over a walker's out-edges is one
    // max-of-struct aggregate, no per-walker sort. Output is the
    // (walk_id, step, node) trajectory table — the positive-pair corpus
    // a skip-gram embedding trainer consumes. Cost per round is
    // O(Σ outdeg(frontier)) with a fixed frontier, strictly below
    // BFS's growing one; at 100 TB walks shard by walk_id with the
    // edge table static — the ideal iterate shape.
    QueryDef(
      "graph_randomwalk_k3",
      (s, d) => {
        val graph = sharedGraph(s, s"ps:$d")(partSupplierEdges(s, d))
        var cur = graph.select(col("src").as("node")).distinct()
          .filter(PipelineQueries.hashPermille(col("node"), "walk") < 20000L)
          .select(col("node").as("walk_id"), col("node"))
          .localCheckpoint(false)
        var path = cur.select(col("walk_id"), lit(0L).as("step"), col("node"))
        for (k <- 1 to 3) {
          val draw = PipelineQueries.hashPermille(
            concat_ws(":", col("walk_id"), col("dst")), s"walk$k")
          cur = graph.hint("merge")
            .join(cur.withColumnRenamed("node", "src"), "src")
            .groupBy("walk_id")
            .agg(min(struct(draw.as("h"), col("dst"))).as("pick"))
            .select(col("walk_id"), col("pick.dst").as("node"))
            .localCheckpoint(false)
          path = path.unionByName(
            cur.select(col("walk_id"), lit(k.toLong).as("step"), col("node")))
        }
        path.orderBy("walk_id", "step")
      },
      Some {
        def hop(prev: String, k: Int): String = {
          val h = PipelineQueries.hashSqlExpr(
            "CAST(w.walk_id AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR)",
            s"walk$k")
          s"""s$k AS (SELECT walk_id, node FROM (
             |  SELECT w.walk_id, e.dst AS node,
             |    row_number() OVER (PARTITION BY w.walk_id
             |                       ORDER BY $h, e.dst) AS rn
             |  FROM $prev w JOIN edges e ON e.src = w.node) WHERE rn = 1)"""
        }
        s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
           |edges AS (
           |  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
           |  UNION ALL
           |  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs),
           |nodes AS (SELECT DISTINCT CAST(src AS BIGINT) AS node FROM edges),
           |s0 AS (SELECT node AS walk_id, node FROM nodes
           |       WHERE ${PipelineQueries.hashSqlExpr("node", "walk")} < 20000),
           |${hop("s0", 1)},
           |${hop("s1", 2)},
           |${hop("s2", 3)}
           |SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM s0
           |UNION ALL SELECT walk_id, 1, node FROM s1
           |UNION ALL SELECT walk_id, 2, node FROM s2
           |UNION ALL SELECT walk_id, 3, node FROM s3
           |ORDER BY walk_id, step""".stripMargin
      }),

    // Histogram-based best-split finding — the inner loop of distributed
    // gradient boosting (LightGBM/XGBoost-style): bin three features to
    // bounded histograms of (count, gradient-sum) in ONE map-side-
    // combined aggregate over the scan, cumulate left-stats with a
    // window over the ≤64-bin bounded partition, and argmax the exact
    // variance gain per feature. This is THE 100 TB shape for tree
    // learning — workers ship (feature, bin) partial histograms (a few
    // KB), never rows; the gain scan is over bins, not data. Label =
    // revenue cents (decimal-exact BIGINT); gain terms are deterministic
    // IEEE doubles of exact integer sums (the stats-family contract), so
    // the argmax + min-bin tie-break replays identically in DuckDB via
    // one max-of-struct aggregate (no per-feature sort).
    QueryDef(
      "gbdt_hist_split",
      (s, d) => {
        val base = t(s, d, "lineitem").select(
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"),
          col("l_quantity").cast("long").as("qty_bin"),
          expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("disc_bin"))
        val feats = base.select(lit("quantity").as("feature"),
            col("qty_bin").as("bin"), col("cents"))
          .unionByName(base.select(lit("discount").as("feature"),
            col("disc_bin").as("bin"), col("cents")))
          .unionByName(base.select(lit("price").as("feature"),
            least(lit(63L), expr("cents div 200000")).as("bin"), col("cents")))
        val hist = feats.groupBy("feature", "bin")
          .agg(count(lit(1)).as("n_b"), sum("cents").as("s_b"))
        val wc = Window.partitionBy("feature").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("feature")
        val cum = hist.select(col("feature"), col("bin"),
          sum("n_b").over(wc).as("n_l"), sum("s_b").over(wc).as("s_l"),
          sum("n_b").over(wt).as("n"), sum("s_b").over(wt).as("s"))
        val gains = cum.filter(col("n_l") < col("n"))
          .select(col("feature"), col("bin"), col("n_l"),
            (col("n") - col("n_l")).as("n_r"), col("s_l"),
            (col("s") - col("s_l")).as("s_r"),
            (col("s_l").cast("double") * col("s_l") / col("n_l")
              + (col("s") - col("s_l")).cast("double") * (col("s") - col("s_l"))
                / (col("n") - col("n_l"))
              - col("s").cast("double") * col("s") / col("n")).as("gain"))
        gains.groupBy("feature")
          .agg(max(struct(col("gain"), (-col("bin")).as("negbin"), col("n_l"),
            col("n_r"), col("s_l"), col("s_r"))).as("best"))
          .select(col("feature"), (-col("best.negbin")).as("split_bin"),
            col("best.n_l").as("n_left"), col("best.n_r").as("n_right"),
            col("best.s_l").as("sum_left_cents"),
            col("best.s_r").as("sum_right_cents"), col("best.gain").as("gain"))
          .orderBy("feature")
      },
      Some("""WITH base AS (SELECT
             |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |  CAST(l_quantity AS BIGINT) AS qty_bin,
             |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_bin
             |  FROM lineitem),
             |feats AS (
             |  SELECT 'quantity' AS feature, qty_bin AS bin, cents FROM base
             |  UNION ALL SELECT 'discount', disc_bin, cents FROM base
             |  UNION ALL SELECT 'price', LEAST(63, cents // 200000), cents FROM base),
             |hist AS (SELECT feature, bin, CAST(count(*) AS BIGINT) AS n_b,
             |         CAST(sum(cents) AS BIGINT) AS s_b FROM feats GROUP BY 1, 2),
             |cum AS (SELECT feature, bin,
             |  CAST(sum(n_b) OVER wc AS BIGINT) AS n_l,
             |  CAST(sum(s_b) OVER wc AS BIGINT) AS s_l,
             |  CAST(sum(n_b) OVER wt AS BIGINT) AS n,
             |  CAST(sum(s_b) OVER wt AS BIGINT) AS s
             |  FROM hist WINDOW
             |    wc AS (PARTITION BY feature ORDER BY bin
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    wt AS (PARTITION BY feature)),
             |gains AS (SELECT feature, bin, n_l, n - n_l AS n_r, s_l,
             |  s - s_l AS s_r,
             |  CAST(s_l AS DOUBLE) * s_l / n_l
             |    + CAST(s - s_l AS DOUBLE) * (s - s_l) / (n - n_l)
             |    - CAST(s AS DOUBLE) * s / n AS gain
             |  FROM cum WHERE n_l < n),
             |pick AS (SELECT *, row_number() OVER (PARTITION BY feature
             |  ORDER BY gain DESC, bin) AS rn FROM gains)
             |SELECT feature, bin AS split_bin, n_l AS n_left, n_r AS n_right,
             |  s_l AS sum_left_cents, s_r AS sum_right_cents, gain
             |FROM pick WHERE rn = 1 ORDER BY feature""".stripMargin)),

    // Leakage-free K-fold target encoding — the feature-engineering
    // staple for categorical features at scale: each (brand, fold)
    // cell's encoded value is the target mean computed WITHOUT that
    // fold's own rows (out-of-fold), smoothed toward the global prior
    // with weight 100. Fold assignment is the md5-permille hash the
    // split family rides (pure function of the row key — both engines
    // agree), so the encoding is reproducible shard-by-shard. Shape:
    // the lineitem⋈part FK join (the standard TPC-H chain), then ONE
    // bounded (25 brands × 5 folds) map-side-combined aggregate; brand
    // totals and the global prior ride broadcasts of the tiny cell
    // matrix — after the join, nothing row-proportional moves. Sums are
    // decimal-exact BIGINTs; the encoded value is a deterministic
    // double of exact integers.
    QueryDef(
      "target_encode_oof",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_partkey"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"),
          (PipelineQueries.hashPermille(
            concat_ws(":", col("l_orderkey"), col("l_linenumber")), "fold")
            % 5).as("fold"))
        val cells = li
          .join(t(s, d, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")), "l_partkey")
          .groupBy("p_brand", "fold")
          .agg(count(lit(1)).as("n_cell"), sum("cents").as("s_cell"))
        val bt = cells.groupBy("p_brand")
          .agg(sum("n_cell").as("n_brand"), sum("s_cell").as("s_brand"))
        val gt = cells.agg(sum(col("n_cell")).as("g_n"),
          sum(col("s_cell")).as("g_s"))
        cells.join(broadcast(bt), "p_brand")
          .crossJoin(broadcast(gt))
          .select(col("p_brand"), col("fold"),
            (col("n_brand") - col("n_cell")).as("n_oof"),
            (col("s_brand") - col("s_cell")).as("s_oof_cents"),
            (((col("s_brand") - col("s_cell")).cast("double")
              + lit(100.0) * (col("g_s").cast("double") / col("g_n")))
              / ((col("n_brand") - col("n_cell")) + lit(100L)))
              .as("enc_cents"))
          .orderBy("p_brand", "fold")
      },
      Some(s"""WITH li AS (SELECT l_partkey,
             |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |  ${PipelineQueries.hashSqlExpr(
                  "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
                  "fold")} % 5 AS fold
             |  FROM lineitem),
             |cells AS (SELECT p_brand, fold, CAST(count(*) AS BIGINT) AS n_cell,
             |  CAST(sum(cents) AS BIGINT) AS s_cell
             |  FROM li JOIN part ON p_partkey = l_partkey GROUP BY 1, 2),
             |bt AS (SELECT p_brand, CAST(sum(n_cell) AS BIGINT) AS n_brand,
             |  CAST(sum(s_cell) AS BIGINT) AS s_brand FROM cells GROUP BY 1),
             |gt AS (SELECT CAST(sum(n_cell) AS BIGINT) AS g_n,
             |  CAST(sum(s_cell) AS BIGINT) AS g_s FROM cells)
             |SELECT c.p_brand, c.fold,
             |  n_brand - n_cell AS n_oof,
             |  s_brand - s_cell AS s_oof_cents,
             |  (CAST(s_brand - s_cell AS DOUBLE)
             |    + 100.0 * (CAST(g_s AS DOUBLE) / g_n))
             |    / ((n_brand - n_cell) + 100) AS enc_cents
             |FROM cells c JOIN bt USING (p_brand) CROSS JOIN gt
             |ORDER BY p_brand, fold""".stripMargin)),

    // Quantile-sketch accuracy contract — the percentile counterpart of
    // approx_distinct_users' pattern: at 100 TB exact percentiles mean
    // sorting the universe, so the scale path is approx_percentile
    // (a mergeable rank sketch). Sketch internals (and exact-median FP
    // interpolation) differ across engines, so the output carries the
    // hash-checked group counts plus a boolean asserting the estimate
    // sits inside the exact p45..p55 rank band — 5x the sketch's
    // guaranteed rank error (accuracy 1000 ⇒ ≤ n/1000), so a broken
    // sketch fails but no legitimate seed can flip it. Both approx and
    // exact run Spark-side; the oracle emits the count and literal TRUE.
    QueryDef(
      "approx_quantile_check",
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(value, 0.5, 1000)").as("ap"),
          expr("percentile(value, 0.45D)").as("lo"),
          expr("percentile(value, 0.55D)").as("hi"))
        .select(col("event_type"), col("n"),
          (col("ap") >= col("lo") && col("ap") <= col("hi")).as("median_in_rank_band")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  TRUE AS median_in_rank_band
             |FROM events GROUP BY event_type""".stripMargin)),

    // Market-basket co-occurrence: the 50 part pairs most often bought in
    // the same order. The self-join is equi on l_orderkey — both sides
    // are the SAME distinct subtree, so Spark shuffles it once and reuses
    // the exchange — and pair expansion is bounded by the per-order
    // basket size (≤ itemcount² per order, never corpus-quadratic: TPC-H
    // orders carry ≤ 7-13 items; a production basket cap filters larger
    // groups first). p1 < p2 halves the pairs and canonicalizes them.
    // The merge hint pins sort-merge: the build side GROWS with the fact
    // table, so letting AQE broadcast it is a scale cliff (the r7 driver
    // smoke measured 42× at 10× when AQE hash-built the ~2M-row distinct
    // side); SMJ also keeps the one-exchange reuse between the two legs.
    QueryDef(
      "copurchase_pairs",
      (s, d) => {
        val items = copurchaseItems(s, d)
        items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
          .join(items.select(col("l_orderkey"), col("l_partkey").as("part_b")),
            "l_orderkey")
          .filter(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
          .limit(50)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             |  count(*) AS n_orders
             |FROM items a JOIN items b
             |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |GROUP BY 1, 2
             |ORDER BY n_orders DESC, part_a, part_b LIMIT 50""".stripMargin)),

    // Common-neighbor link prediction over the co-purchase graph — the
    // "customers also bought" candidate generator: score part pairs that
    // were NEVER bought together by how many shared co-purchase partners
    // they have (distance-2 wedges), top 50. Scale shape: the wedge
    // self-join is the quadratic hazard, so neighbor lists are DEGREE-
    // CAPPED first (row_number ≤ 16 per node, deterministic nbr-key
    // order, mirrored exactly in the oracle) — per-node wedge fanout is
    // then ≤ C(16,2)=120 regardless of how hot a part is, the same
    // bounded-expansion discipline as the triangle census's orientation
    // (cap 32 measured 4× the wedge volume for the same top-50 shape —
    // this graph's parts are dense enough that most exceed either cap,
    // so the cap IS the cost knob, exactly as in production recommender
    // candidate generators). Both
    // sides of the wedge join are the one capped subtree (exchange
    // reuse), existing edges leave via an anti join, and the top-50 is
    // fully tie-broken (count DESC, part_a, part_b). All integers.
    QueryDef(
      "link_prediction_common_nbrs",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("node").orderBy("nbr")
        // r12: the shared fixture replaced the lazy edge build — the
        // lazy form planned the items self-join FIVE times here (one
        // per union branch/anti consumer; ReusedExchange only covered
        // two), the query's whole 652 MB 10× shuffle. The SMJ
        // anti-broadcast pin moved WITH the join to the fixture builder
        // (PlanSpec "copurchase edge fixture build is pinned...").
        val edges = sharedCopurchaseEdges(s, d)
        val capped = edges.select(col("a").as("node"), col("b").as("nbr"))
          .unionByName(edges.select(col("b").as("node"), col("a").as("nbr")))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 16)
          .select("node", "nbr")
        val cand = capped.select(col("node"), col("nbr").as("pa"))
          .join(capped.select(col("node"), col("nbr").as("pb")), "node")
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("common_neighbors"))
        cand.join(edges,
            cand("pa") === edges("a") && cand("pb") === edges("b"), "left_anti")
          .select(col("pa").as("part_a"), col("pb").as("part_b"),
            col("common_neighbors"))
          .orderBy(col("common_neighbors").desc, col("part_a"), col("part_b"))
          .limit(50)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |capped AS (
             |  SELECT node, nbr FROM (
             |    SELECT node, nbr, ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn
             |    FROM (SELECT a AS node, b AS nbr FROM edges
             |          UNION ALL SELECT b AS node, a AS nbr FROM edges))
             |  WHERE rn <= 16),
             |cand AS (
             |  SELECT n1.nbr AS pa, n2.nbr AS pb, CAST(count(*) AS BIGINT) AS common_neighbors
             |  FROM capped n1 JOIN capped n2
             |    ON n1.node = n2.node AND n1.nbr < n2.nbr
             |  GROUP BY 1, 2)
             |SELECT pa AS part_a, pb AS part_b, common_neighbors
             |FROM cand c LEFT JOIN edges e ON c.pa = e.a AND c.pb = e.b
             |WHERE e.a IS NULL
             |ORDER BY common_neighbors DESC, part_a, part_b LIMIT 50""".stripMargin)),

    // ANF / HyperBall-style 2-hop reach estimation (Palmer et al. KDD'02;
    // Boldi & Vigna) — neighborhood-function analytics WITHOUT
    // materializing reach sets: each node's 1-hop KMV sketch (k=16
    // smallest 52-bit neighbor hashes) is MERGED across its neighbors to
    // estimate |2-hop reach|, so the distributed cost is Σdeg·k sketch
    // rows — edge-linear — where the exact computation explodes as
    // Σdeg². The exact 2-hop distinct count rides along as the audit
    // truth (the quadratic baseline this sketch exists to avoid — the
    // reason this row is smoke-exempt; production runs the sketch leg
    // only, for ANY radius by iterating the merge). KMV arithmetic is
    // the kmv_distinct_sketch contract: integer division, exact below k.
    QueryDef(
      "graph_anf_reach_sketch",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        // deliberately NOT checkpointed: the quadratic exact-truth join
        // below dominates this bench=false audit, and the lazy lineage
        // lets AQE size the sketch-side joins off real scan stats
        // (measured: pinning the edge table here made the sf0.1 run 4.7×
        // slower while every sketch-only sibling got faster)
        val edges = copurchaseEdges(s, d)
        val und = edges.select(col("a").as("v"), col("b").as("u"))
          .unionByName(edges.select(col("b").as("v"), col("a").as("u")))
        val nodes = und.select(col("v")).distinct()
        val n1 = und.unionByName(nodes.select(col("v"), col("v").as("u")))
        val hashed = n1.withColumn("h",
          graft.functions.GraftFunctions.md5Prefix(
            concat(lit("anf:"), col("u").cast("string")), 13))
        val wV = w.partitionBy("v").orderBy("h")
        val s1 = hashed
          .withColumn("rn", row_number().over(wV)).filter(col("rn") <= 16)
          .select(col("v"), col("h"))
        // merge: v's 2-hop sketch = k smallest over its own and every
        // neighbor's 1-hop sketch (v ∈ N1(v), so self rows are included)
        val merged = n1.select(col("v"), col("u").as("m"))
          .join(s1.select(col("v").as("m"), col("h")), Seq("m"))
          .select("v", "h").distinct()
          .withColumn("rn", row_number().over(wV))
          .filter(col("rn") <= 16)
        val sk = merged.groupBy("v")
          .agg(count(lit(1)).as("k_held"), max(col("h")).as("h_k"))
          .withColumn("kmv_est",
            when(col("k_held") < 16, col("k_held"))
              .otherwise(expr("15 * 4503599627370496 div h_k")))
        // exact truth: the quadratic baseline (audit only at oracle SF)
        val truth = n1.select(col("v"), col("u").as("m"))
          .join(n1.select(col("v").as("m"), col("u")), Seq("m"))
          .select("v", "u").distinct()
          .groupBy("v").agg(count(lit(1)).as("reach2_exact"))
        sk.join(truth, Seq("v"))
          .select(col("v").as("node"), col("reach2_exact"), col("kmv_est"),
            expr("abs(kmv_est - reach2_exact) * 1000 div reach2_exact")
              .as("rel_err_permille"))
          .orderBy("node")
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |und AS (SELECT a AS v, b AS u FROM edges
             |        UNION ALL SELECT b AS v, a AS u FROM edges),
             |nodes AS (SELECT DISTINCT v FROM und),
             |n1 AS (SELECT v, u FROM und UNION ALL SELECT v, v AS u FROM nodes),
             |hashed AS (
             |  SELECT v, u,
             |    CAST(('0x' || substr(md5('anf:' || CAST(u AS VARCHAR)), 1, 13))
             |         AS BIGINT) AS h
             |  FROM n1),
             |s1 AS (SELECT v, h FROM (
             |  SELECT v, h, ROW_NUMBER() OVER (PARTITION BY v ORDER BY h) AS rn
             |  FROM hashed) WHERE rn <= 16),
             |mg AS (
             |  SELECT DISTINCT x.v, s.h
             |  FROM n1 x JOIN s1 s ON s.v = x.u),
             |m2 AS (SELECT v, h, ROW_NUMBER() OVER (PARTITION BY v ORDER BY h) AS rn
             |       FROM mg),
             |sk AS (
             |  SELECT v, CAST(count(*) AS BIGINT) AS k_held,
             |    CAST(max(h) AS BIGINT) AS h_k
             |  FROM m2 WHERE rn <= 16 GROUP BY v),
             |truth AS (
             |  SELECT v, CAST(count(*) AS BIGINT) AS reach2_exact FROM (
             |    SELECT DISTINCT x.v, y.u
             |    FROM n1 x JOIN n1 y ON y.v = x.u)
             |  GROUP BY v)
             |SELECT s.v AS node, reach2_exact,
             |  CAST(CASE WHEN k_held < 16 THEN k_held
             |       ELSE 15 * 4503599627370496 // h_k END AS BIGINT) AS kmv_est,
             |  CAST(abs(CASE WHEN k_held < 16 THEN k_held
             |       ELSE 15 * 4503599627370496 // h_k END - reach2_exact) * 1000
             |       // reach2_exact AS BIGINT) AS rel_err_permille
             |FROM sk s JOIN truth t ON s.v = t.v
             |ORDER BY node""".stripMargin),
      // the exact-truth leg is the deliberate quadratic baseline — same
      // bench=false contract as the brute Jaccard/containment audits
      bench = false),

    // Adamic–Adar link prediction (Adamic & Adar 2003) — the
    // frequency-weighted upgrade of link_prediction_common_nbrs: a
    // shared RARE neighbor is stronger evidence than a shared hub, so
    // each common neighbor m contributes 1/ln(deg(m)) instead of 1. The
    // same degree-capped wedge expansion bounds candidate volume at
    // C(16,2) per middle node; degrees come from ONE edge-linear
    // aggregate joined onto the capped adjacency before the wedge join,
    // and each wedge's weight term is nano-quantized (round(1e9/ln d) as
    // BIGINT) BEFORE the per-pair sum — the doc_unigram_surprisal
    // discipline that keeps a float-weighted aggregate FP-order-free and
    // hash-exact. Top-50 by the exact integer score.
    QueryDef(
      "link_prediction_adamic_adar",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("node").orderBy("nbr")
        val edges = sharedCopurchaseEdges(s, d)
        val und = edges.select(col("a").as("node"), col("b").as("nbr"))
          .unionByName(edges.select(col("b").as("node"), col("a").as("nbr")))
        val deg = und.groupBy("node").agg(count(lit(1)).as("deg"))
        val capped = und
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 16)
          .select("node", "nbr")
        // middle-node AA term: deg >= 2 or the node can't close a wedge;
        // ln(deg) > 0 there, so the quantized weight is well-defined
        val weighted = capped.join(deg.filter(col("deg") >= 2), Seq("node"))
          .withColumn("aa_nano",
            round(lit(1e9) / log(col("deg").cast("double"))).cast("long"))
        val cand = weighted.select(col("node"), col("nbr").as("pa"), col("aa_nano"))
          .join(weighted.select(col("node"), col("nbr").as("pb")), Seq("node"))
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb")
          .agg(count(lit(1)).as("common_neighbors"),
            sum(col("aa_nano")).as("aa_score_nano"))
        cand.join(edges,
            cand("pa") === edges("a") && cand("pb") === edges("b"), "left_anti")
          .select(col("pa").as("part_a"), col("pb").as("part_b"),
            col("common_neighbors"), col("aa_score_nano"))
          .orderBy(col("aa_score_nano").desc, col("part_a"), col("part_b"))
          .limit(50)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |und AS (SELECT a AS node, b AS nbr FROM edges
             |        UNION ALL SELECT b AS node, a AS nbr FROM edges),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
             |        FROM und GROUP BY node),
             |capped AS (
             |  SELECT node, nbr FROM (
             |    SELECT node, nbr, ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn
             |    FROM und)
             |  WHERE rn <= 16),
             |weighted AS (
             |  SELECT c.node, c.nbr,
             |    CAST(round(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS aa_nano
             |  FROM capped c JOIN deg USING (node) WHERE deg >= 2),
             |cand AS (
             |  SELECT n1.nbr AS pa, n2.nbr AS pb,
             |    CAST(count(*) AS BIGINT) AS common_neighbors,
             |    CAST(sum(n1.aa_nano) AS BIGINT) AS aa_score_nano
             |  FROM weighted n1 JOIN weighted n2
             |    ON n1.node = n2.node AND n1.nbr < n2.nbr
             |  GROUP BY 1, 2)
             |SELECT pa AS part_a, pb AS part_b, common_neighbors, aa_score_nano
             |FROM cand c LEFT JOIN edges e ON c.pa = e.a AND c.pb = e.b
             |WHERE e.a IS NULL
             |ORDER BY aa_score_nano DESC, part_a, part_b LIMIT 50""".stripMargin)),

    // One synchronous label-propagation round over the co-purchase graph
    // (Raghavan et al. 2007) — the community-detection primitive that
    // iterates to convergence the same way kcore_peel_round and
    // pagerank_one_step pin their per-round contracts. Labels are seeded
    // with one min-propagation step (least of self and neighbors — the
    // identity seed makes round one a degenerate all-ties vote), then
    // each node adopts its neighbors' most frequent label, ties to the
    // smallest — the deterministic tie rule that makes LPA reproducible
    // at all (bare LPA is run-order dependent; a distributed engine MUST
    // pin this or no two runs agree). Scale shape: adjacency is
    // edge-linear, the label vote is one map-side-combinable count, and
    // the argmax is a min(struct(-c, lbl)) aggregate — no window, no
    // per-node sort; `changed` is the convergence probe an iterating
    // driver would sum.
    QueryDef(
      "label_propagation_round",
      (s, d) => {
        val edges = sharedCopurchaseEdges(s, d)
        val adj = edges.select(col("a").as("node"), col("b").as("nbr"))
          .union(edges.select(col("b").as("node"), col("a").as("nbr")))
        val l0 = adj.groupBy("node").agg(min(col("nbr")).as("mn"))
          .select(col("node"), least(col("node"), col("mn")).as("lbl"))
        val nbrLbl = adj.join(
          l0.select(col("node").as("nbr"), col("lbl")), "nbr")
        val pick = nbrLbl.groupBy("node", "lbl").agg(count(lit(1)).as("c"))
          .groupBy("node").agg(min(struct(-col("c"), col("lbl"))).as("m"))
          .select(col("node"), col("m.lbl").as("new_label"))
        pick.join(l0, "node")
          .select(col("node"), col("lbl").as("init_label"), col("new_label"),
            when(col("new_label") =!= col("lbl"), 1L).otherwise(0L).as("changed"))
          .orderBy("node")
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |adj AS (SELECT a AS node, b AS nbr FROM edges
             |        UNION ALL SELECT b AS node, a AS nbr FROM edges),
             |l0 AS (SELECT node, least(node, min(nbr)) AS lbl FROM adj GROUP BY node),
             |nl AS (SELECT adj.node, l0.lbl FROM adj JOIN l0 ON adj.nbr = l0.node),
             |cnt AS (SELECT node, lbl, CAST(count(*) AS BIGINT) AS c
             |        FROM nl GROUP BY 1, 2),
             |pick AS (SELECT node, lbl AS new_label,
             |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
             |  FROM cnt)
             |SELECT p.node, l0.lbl AS init_label, p.new_label,
             |  CAST(CASE WHEN p.new_label <> l0.lbl THEN 1 ELSE 0 END AS BIGINT)
             |    AS changed
             |FROM pick p JOIN l0 USING (node) WHERE rn = 1
             |ORDER BY node""".stripMargin)),

    // Triangle census over the co-purchase graph — the canonical
    // distributed-graph pattern beyond one power-iteration step
    // (pagerank_one_step), made scale-honest TWICE over. (1) COLORFUL
    // SPARSIFICATION (Pagh–Tsourakakis): vertices get one of c=16
    // deterministic colors (key mod c) and only monochromatic edges are
    // kept — each triangle survives with probability 1/c², so
    // mono_count · c² is the unbiased estimate; the full 100 TB edge set
    // is never joined (the raw co-purchase graph is ~256× more wedges).
    // (2) DEGREE ORIENTATION (Cohen / Suri-Vassilvitskii) on the kept
    // subgraph: every edge points from its lower-(degree, id) endpoint
    // to the higher, so wedge fanout per node is bounded by out-degree
    // ≤ O(√m) regardless of raw degree — the hot part in 10% of baskets
    // contributes only wedges it can close. One wedge self-join on src +
    // one closure equi-join; each triangle counted exactly once because
    // wedge pair and closing edge respect the same total order. The
    // oracle replays the monochromatic count with the plain a<b triple
    // join — identical integers, different join geometry. Wedge total
    // Σ C(deg, 2), the ×256 scale-up, and the clustering ratio are
    // integer-exact; the single division is engine-identical.
    QueryDef(
      "graph_triangle_census",
      (s, d) => {
        // shared colorful fixture (4 consumers inside census: deg,
        // orient, wedges, count — plus ktruss's whole pipeline)
        val edges = sharedColorfulEdges(s, d)
        graft.graph.TriangleCensus.census(edges)
          .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
            (col("n_triangles") * lit(256L)).as("est_triangles_full"),
            (col("n_triangles").cast("double") * 3.0 /
             col("n_wedges").cast("double")).as("global_clustering"))
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM items x JOIN items y
             |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |       AND x.l_partkey % 16 = y.l_partkey % 16),
             |deg AS (
             |  SELECT v, count(*) AS dg
             |  FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
             |  GROUP BY v),
             |tri AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |  FROM edges e1
             |  JOIN edges e2 ON e1.b = e2.a
             |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
             |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges),
             |wc AS (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
             |SELECT n_edges, n_wedges, n_triangles,
             |  n_triangles * 256 AS est_triangles_full,
             |  CAST(n_triangles AS DOUBLE) * 3.0 / CAST(n_wedges AS DOUBLE)
             |    AS global_clustering
             |FROM ec, wc, tri""".stripMargin)),

    // k-truss support histogram (Cohen 2008) — the edge-level tier above
    // triangle counting: per-edge triangle SUPPORT, the peel criterion of
    // the densest-subgraph ladder (an edge is in the 4-truss iff ≥ 2
    // triangles close it; communities survive, bridges don't). Same
    // scale discipline as the census, one step further: the colorful
    // mono-edge sparsification (mod 16) bounds the edge set, the wedge
    // join rides the DEGREE orientation (fanout ≤ out-degree = O(√m),
    // hub-proof), and — the part the census doesn't need — each
    // enumerated triangle fans back out to its THREE id-canonical edges,
    // whose per-edge count partial-aggregates map-side before one
    // bounded histogram groupBy. The oracle replays support with the
    // plain a<b<c triple join — identical multiset, different join
    // geometry (same cross-validation contract as the census). Output is
    // domain-bounded: one row per distinct support value.
    QueryDef(
      "graph_ktruss_support",
      (s, d) => {
        // shared colorful fixture — consumed by orient/deg/wedges + the
        // support join, and identical to the census's edge set
        val edges = sharedColorfulEdges(s, d)
        val tri = graft.graph.TriangleCensus.triangles(edges)
        val sup = tri.select(explode(array(
            struct(col("tri_x").as("a"), col("tri_y").as("b")),
            struct(col("tri_y").as("a"), col("tri_z").as("b")),
            struct(col("tri_x").as("a"), col("tri_z").as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("sup"))
        edges.join(sup, Seq("a", "b"), "left_outer")
          .select(coalesce(col("sup"), lit(0L)).as("support"))
          .groupBy("support").agg(count(lit(1)).as("n_edges"))
          .withColumn("in_4truss", col("support") >= 2)
          .orderBy("support")
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM items x JOIN items y
             |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |       AND x.l_partkey % 16 = y.l_partkey % 16),
             |tri AS (
             |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM edges e1
             |  JOIN edges e2 ON e1.b = e2.a
             |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
             |te AS (
             |  SELECT x AS a, y AS b FROM tri
             |  UNION ALL SELECT y, z FROM tri
             |  UNION ALL SELECT x, z FROM tri),
             |ts AS (SELECT a, b, CAST(count(*) AS BIGINT) AS sup
             |       FROM te GROUP BY 1, 2),
             |sup AS (SELECT coalesce(ts.sup, 0) AS support
             |        FROM edges e LEFT JOIN ts USING (a, b))
             |SELECT support, CAST(count(*) AS BIGINT) AS n_edges,
             |  support >= 2 AS in_4truss
             |FROM sup GROUP BY support ORDER BY support""".stripMargin)),

    // Bucketed co-located join — the OTHER half of the layout story next
    // to z-order: both fact tables are saved bucketed (8 buckets) AND
    // sorted on the join key, so the join consumes bucket files directly —
    // ZERO exchanges under the join node (pinned in PlanSpec); the only
    // shuffle in the whole plan is the final 5-row priority rollup. At
    // 100 TB this is the difference between re-shuffling two fact tables
    // per join and a pure merge of co-located sorted buckets; the bucket
    // spec is the physical contract a lake writer declares once and every
    // downstream join inherits. Tables are created once per (session,
    // sfDir) under the /tmp warehouse; the oracle replays the join on the
    // raw parquet.
    QueryDef(
      "bucketed_join_colocated",
      (s, d) => {
        val tag = d.replaceAll("[^A-Za-z0-9]+", "_")
        val (lt, ot) = (s"graft_li_bkt_$tag", s"graft_ord_bkt_$tag")
        ensureBucketedTable(s, lt, "l_orderkey",
          t(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"))
        ensureBucketedTable(s, ot, "o_orderkey",
          t(s, d, "orders").select("o_orderkey", "o_orderpriority"))
        s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(DecimalType(18, 4))).cast("double").as("revenue"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority""".stripMargin)),

    // Z-order (Morton) layout planning: interleave the bits of two join/
    // filter dimensions into one clustering key, bucket the lake by it,
    // and report each bucket's bounding box over BOTH dimensions. The
    // tight per-bucket min/max ranges are the data-skipping contract — a
    // scan filtered on EITHER partkey or suppkey prunes most z-buckets
    // from footer stats alone, where a single-column sort only helps one
    // dimension. Pure codegen'd bit arithmetic (16 shift/mask terms per
    // dimension) + one aggregation; writing the lake clustered by
    // `z_bucket` is then a plain repartition-by-range.
    QueryDef(
      "zorder_layout",
      (s, d) => {
        val bits = 16
        def z(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          (0 until bits).map { i =>
            shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
              .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
          }.reduce(_ bitwiseOR _)
        t(s, d, "lineitem")
          .select(col("l_partkey").bitwiseAND(lit(65535L)).as("p"),
                  col("l_suppkey").bitwiseAND(lit(65535L)).as("sk"))
          .distinct()
          .withColumn("z_bucket", shiftright(z(col("p"), col("sk")), 14))
          .groupBy("z_bucket")
          .agg(count(lit(1)).as("n_pairs"),
               min("p").as("min_part"), max("p").as("max_part"),
               min("sk").as("min_supp"), max("sk").as("max_supp"))
      },
      Some {
        val bits = 16
        val terms = (0 until bits).flatMap(i => Seq(
          s"(((p >> $i) & 1) << ${2 * i})",
          s"(((sk >> $i) & 1) << ${2 * i + 1})"))
        val zExpr = terms.mkString(" | ")
        s"""WITH pairs AS (
           |  SELECT DISTINCT l_partkey & 65535 AS p, l_suppkey & 65535 AS sk
           |  FROM lineitem)
           |SELECT ($zExpr) >> 14 AS z_bucket,
           |  count(*) AS n_pairs,
           |  min(p) AS min_part, max(p) AS max_part,
           |  min(sk) AS min_supp, max(sk) AS max_supp
           |FROM pairs GROUP BY 1""".stripMargin
      }),

    // Zone-map prune-effectiveness audit — the MEASUREMENT that justifies
    // zorder_layout: for one 2-D range predicate (the quarter-to-half box
    // of each dimension's observed domain), how many of 64 files — and
    // how many rows — can footer min/max stats skip under (a) the
    // insertion-order layout (files follow l_orderkey — arrival time) vs
    // (b) the z-order layout (files follow the Morton key)? This is the
    // lake planner's before/after card: insertion-order files are wide on
    // both filter dimensions (every file straddles the box → ~zero
    // pruning) while z-order files are bounding-boxed on BOTH. The file
    // assignment is scale-free — file = key·64 div (max+1), one 1-row
    // broadcast of the domain maxes — so the audit reads the same at any
    // corpus size (files grow like real size-targeted files). One fact
    // scan fans each row to its two (layout, file) homes via a 2-row
    // stack; the per-file min/max/count aggregate is a FIXED 128-cell
    // matrix that partial-aggregates map-side, and everything above it is
    // file-bounded. All integers; permille columns are exact integer
    // divisions.
    QueryDef(
      "zonemap_prune_audit",
      (s, d) => {
        val bits = 16
        def z(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          (0 until bits).map { i =>
            shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
              .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
          }.reduce(_ bitwiseOR _)
        val rows = t(s, d, "lineitem")
          .select(col("l_orderkey"),
            col("l_partkey").bitwiseAND(lit(65535L)).as("pm"),
            col("l_suppkey").bitwiseAND(lit(65535L)).as("sm"))
          .withColumn("zv", z(col("pm"), col("sm")))
        val dom = rows.agg(max("l_orderkey").as("max_ok"),
          max("pm").as("max_pm"), max("sm").as("max_sm"),
          max("zv").as("max_z"))
        val perFile = rows.crossJoin(broadcast(dom))
          .select(col("pm"), col("sm"),
            expr("stack(2, " +
              "'insertion', l_orderkey * 64 div (max_ok + 1), " +
              "'zorder', zv * 64 div (max_z + 1)) AS (layout, file_id)"),
            col("max_pm"), col("max_sm"))
          .groupBy("layout", "file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("pm").as("min_pm"), max(col("pm")).as("hi_pm"),
            min("sm").as("min_sm"), max(col("sm")).as("hi_sm"),
            max("max_pm").as("dom_pm"), max("max_sm").as("dom_sm"))
        val mustScan = !(col("min_pm") > expr("dom_pm div 2") ||
          col("hi_pm") < expr("dom_pm div 4") ||
          col("min_sm") > expr("dom_sm div 2") ||
          col("hi_sm") < expr("dom_sm div 4"))
        perFile
          .withColumn("scan", mustScan)
          .groupBy("layout")
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("scan"), 1L).otherwise(0L)).as("files_scanned"),
            sum(col("n_rows")).as("rows_total"),
            sum(when(col("scan"), col("n_rows")).otherwise(0L))
              .as("rows_scanned"))
          .withColumn("files_pruned_permille",
            expr("(n_files - files_scanned) * 1000 div n_files"))
          .withColumn("rows_scanned_permille",
            expr("rows_scanned * 1000 div rows_total"))
          .orderBy("layout")
      },
      Some {
        val bits = 16
        val terms = (0 until bits).flatMap(i => Seq(
          s"(((pm >> $i) & 1) << ${2 * i})",
          s"(((sm >> $i) & 1) << ${2 * i + 1})"))
        val zExpr = terms.mkString(" | ")
        s"""WITH rows_t AS (
           |  SELECT l_orderkey, l_partkey & 65535 AS pm, l_suppkey & 65535 AS sm,
           |    ($zExpr) AS zv
           |  FROM lineitem),
           |dom AS (
           |  SELECT max(l_orderkey) AS max_ok, max(pm) AS max_pm,
           |    max(sm) AS max_sm, max(zv) AS max_z
           |  FROM rows_t),
           |homed AS (
           |  SELECT 'insertion' AS layout,
           |    l_orderkey * 64 // (max_ok + 1) AS file_id, pm, sm,
           |    max_pm, max_sm
           |  FROM rows_t CROSS JOIN dom
           |  UNION ALL
           |  SELECT 'zorder', zv * 64 // (max_z + 1), pm, sm, max_pm, max_sm
           |  FROM rows_t CROSS JOIN dom),
           |per_file AS (
           |  SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
           |    min(pm) AS min_pm, max(pm) AS hi_pm,
           |    min(sm) AS min_sm, max(sm) AS hi_sm,
           |    max(max_pm) AS dom_pm, max(max_sm) AS dom_sm
           |  FROM homed GROUP BY 1, 2),
           |flagged AS (
           |  SELECT layout, n_rows,
           |    NOT (min_pm > dom_pm // 2 OR hi_pm < dom_pm // 4
           |         OR min_sm > dom_sm // 2 OR hi_sm < dom_sm // 4) AS scan
           |  FROM per_file),
           |agg AS (
           |  SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           |    CAST(sum(CASE WHEN scan THEN 1 ELSE 0 END) AS BIGINT)
           |      AS files_scanned,
           |    CAST(sum(n_rows) AS BIGINT) AS rows_total,
           |    CAST(sum(CASE WHEN scan THEN n_rows ELSE 0 END) AS BIGINT)
           |      AS rows_scanned
           |  FROM flagged GROUP BY 1)
           |SELECT layout, n_files, files_scanned, rows_total, rows_scanned,
           |  (n_files - files_scanned) * 1000 // n_files AS files_pruned_permille,
           |  rows_scanned * 1000 // rows_total AS rows_scanned_permille
           |FROM agg ORDER BY layout""".stripMargin
      }),

    // Join-key skew profile: the fanout distribution of a join key (how
    // many customers place n orders), plus each bucket's share of all
    // rows — the diagnostic run before choosing salting/AQE-skew
    // strategies for a 100 TB join. Aggregate-of-aggregate: per-key
    // counts (one shuffle), then a histogram of those counts (tiny), with
    // the total derived from the histogram itself (sum over its few rows,
    // broadcast back) — the base table is scanned and shuffled once.
    QueryDef(
      "key_skew_profile",
      (s, d) => {
        val perKey = t(s, d, "orders")
          .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        val hist = perKey.groupBy("n_orders")
          .agg(count(lit(1)).as("n_customers"))
        val total = hist.agg(
          sum(col("n_orders") * col("n_customers")).as("total_orders"))
        hist.crossJoin(broadcast(total))
          .select(col("n_orders"), col("n_customers"),
            (col("n_orders").cast("double") * col("n_customers").cast("double")
              / col("total_orders").cast("double")).as("row_share"))
      },
      Some("""WITH per_key AS (
             |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1),
             |hist AS (
             |  SELECT n_orders, count(*) AS n_customers FROM per_key GROUP BY 1),
             |tot AS (SELECT sum(n_orders * n_customers) AS total_orders FROM hist)
             |SELECT n_orders, n_customers,
             |  CAST(n_orders AS DOUBLE) * CAST(n_customers AS DOUBLE)
             |    / CAST(total_orders AS DOUBLE) AS row_share
             |FROM hist CROSS JOIN tot""".stripMargin)),

    // Gaps-and-islands: per customer, maximal runs of CONSECUTIVE order
    // days, folded to a run-length histogram. The classic formulation —
    // day minus row_number is constant within a run — needs only the
    // per-customer window (bounded partitions, no global sort) and two
    // hash aggregations; the histogram output is O(max run length), scale-
    // invariant. Sequence/periodicity profiling over event-dated facts.
    QueryDef(
      "orders_gaps_islands",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("day")
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date").as("day"))
          .distinct()
          .withColumn("grp", date_sub(col("day"), row_number().over(w)))
          .groupBy("o_custkey", "grp")
          .agg(count(lit(1)).as("island_len"))
          .groupBy("island_len")
          .agg(count(lit(1)).as("n_islands"))
          .withColumn("n_days_total", col("island_len") * col("n_islands"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day
             |  FROM orders),
             |runs AS (
             |  SELECT o_custkey,
             |    day - CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY day)
             |               AS INTEGER) AS grp
             |  FROM days),
             |islands AS (
             |  SELECT o_custkey, grp, count(*) AS island_len
             |  FROM runs GROUP BY 1, 2)
             |SELECT island_len, count(*) AS n_islands,
             |  island_len * count(*) AS n_days_total
             |FROM islands GROUP BY island_len""".stripMargin)),

    // Referential-integrity audit — the constraint checks a lakehouse runs
    // because parquet enforces none: orphan FKs (anti joins), duplicate
    // PKs, null keys, one count per check. Each anti join shuffles on its
    // own key (nation/customer sides broadcast under the threshold); the
    // output is O(#checks). All counts are expected 0 except the row-count
    // sanity check, which pins that the audit actually scanned data.
    QueryDef(
      "referential_integrity_audit",
      (s, d) => {
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        val c = t(s, d, "customer"); val n = t(s, d, "nation")
        def one(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows")).select(
            lit(name).as("check_name"), col("n_rows"))
        one("customer_orphan_nationkey",
            c.join(n, c("c_nationkey") === n("n_nationkey"), "left_anti"))
          .unionByName(one("lineitem_null_orderkey", li.filter(col("l_orderkey").isNull)))
          .unionByName(one("lineitem_orphan_orderkey",
            li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")))
          .unionByName(one("orders_duplicate_pk",
            o.groupBy("o_orderkey").agg(count(lit(1)).as("k")).filter(col("k") > 1)))
          .unionByName(one("orders_orphan_custkey",
            o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
          .unionByName(one("orders_rowcount", o))
          .orderBy("check_name")
      },
      Some("""SELECT 'customer_orphan_nationkey' AS check_name, count(*) AS n_rows
             |  FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
             |UNION ALL
             |SELECT 'lineitem_null_orderkey', count(*) FROM lineitem WHERE l_orderkey IS NULL
             |UNION ALL
             |SELECT 'lineitem_orphan_orderkey', count(*)
             |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
             |UNION ALL
             |SELECT 'orders_duplicate_pk', count(*) FROM (
             |  SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
             |UNION ALL
             |SELECT 'orders_orphan_custkey', count(*)
             |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
             |UNION ALL
             |SELECT 'orders_rowcount', count(*) FROM orders
             |ORDER BY check_name""".stripMargin)),

    // Time-weighted average (TWAP): per user, the value averaged over TIME
    // HELD rather than per observation — each event's value is weighted by
    // the milliseconds until that user's next event. One per-user window
    // for the lead, one hash aggregation; weights are exact integers and
    // the weighted sum rides DECIMAL (value 18,2 × ms 12,0 → 31,2 — no
    // precision-overflow rounding on either engine), so the final double
    // is a single exact division.
    QueryDef(
      "time_weighted_avg",
      (s, d) => {
        val byU = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events")
          .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
          .withColumn("next_ms", lead(col("ms"), 1).over(byU))
          .filter(col("next_ms").isNotNull)
          .withColumn("wms", (col("next_ms") - col("ms")).cast("decimal(12,0)"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("wms")).cast("long").as("total_ms"),
            (sum(col("value").cast("decimal(18,2)") * col("wms")).cast("double")
              / sum(col("wms")).cast("double")).as("twap"))
          .filter(col("total_ms") > 0)
      },
      Some("""WITH seq AS (
             |  SELECT user_id, value, epoch_ms(ts) AS ms,
             |    LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_ms
             |  FROM events)
             |SELECT user_id, count(*) AS n_intervals,
             |  CAST(sum(CAST(next_ms - ms AS DECIMAL(12,0))) AS BIGINT) AS total_ms,
             |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(next_ms - ms AS DECIMAL(12,0)))
             |       AS DOUBLE)
             |    / CAST(sum(CAST(next_ms - ms AS DECIMAL(12,0))) AS DOUBLE) AS twap
             |FROM seq WHERE next_ms IS NOT NULL
             |GROUP BY user_id HAVING CAST(sum(CAST(next_ms - ms AS DECIMAL(12,0))) AS BIGINT) > 0
             |""".stripMargin)),

    // OHLC bars: per (event_type, day) open/high/low/close — the
    // financial-style downsampling aggregation. Open/close are argmin/
    // argmax over the deterministic (ts, event_id) order (Spark: min_by/
    // max_by on the struct key — one shuffled row per bar; the oracle
    // replays it with two ROW_NUMBER passes over the same total order).
    // Values are carried, never summed, so doubles compare exactly.
    QueryDef(
      "ohlc_bars",
      (s, d) => t(s, d, "events")
        .withColumn("day", col("ts").cast("date"))
        .groupBy("event_type", "day")
        .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_v"),
          max(col("value")).as("high_v"),
          min(col("value")).as("low_v"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_v"),
          count(lit(1)).as("n_events")),
      Some("""WITH r AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
             |      ORDER BY ts, event_id) AS rf,
             |    ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
             |      ORDER BY ts DESC, event_id DESC) AS rl
             |  FROM events)
             |SELECT event_type, day,
             |  max(CASE WHEN rf = 1 THEN value END) AS open_v,
             |  max(value) AS high_v, min(value) AS low_v,
             |  max(CASE WHEN rl = 1 THEN value END) AS close_v,
             |  count(*) AS n_events
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // Null repair via group-mean imputation — the feature-engineering fill
    // pass. The testdata has no nulls, so the query knocks out a
    // deterministic subset first (every 7th event) and then imputes from
    // the REMAINING values' per-type mean — numerator and denominator are
    // exact DECIMAL/COUNT aggregates (FILTER clause on both engines), the
    // mean is one exact division, and the imputed sum re-aggregates in
    // DECIMAL. Two hash aggregations and a broadcast join back; no row
    // ever leaves its partition twice.
    QueryDef(
      "impute_group_mean",
      (s, d) => {
        val base = t(s, d, "events").withColumn("v",
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value")))
        val means = base.groupBy("event_type").agg(
          (sum(col("v").cast("decimal(18,2)")).cast("double") /
            count(col("v")).cast("double")).as("mean_v"))
        base.join(broadcast(means), "event_type")
          // micro-unit quantization (round(x·1e6) → BIGINT) keeps the
          // re-aggregated total integer-exact across engines — summing
          // the imputed doubles directly would hash on addition order
          .withColumn("v_micro",
            round(coalesce(col("v"), col("mean_v")) * lit(1e6)).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_imputed"),
            sum(col("v_micro")).as("sum_filled_micro"))
      },
      Some("""WITH base AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
             |  FROM events),
             |means AS (
             |  SELECT event_type,
             |    CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)
             |      / CAST(count(v) AS DOUBLE) AS mean_v
             |  FROM base GROUP BY 1)
             |SELECT base.event_type, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
             |  CAST(sum(CAST(round(coalesce(v, mean_v) * 1e6) AS BIGINT)) AS BIGINT)
             |    AS sum_filled_micro
             |FROM base JOIN means ON base.event_type = means.event_type
             |GROUP BY base.event_type""".stripMargin)),

    // Robust (median/MAD) outlier screen — the companion to
    // value_outlier_screen's mean/stddev z-score: a single fat-tailed
    // batch inflates the stddev and hides its own outliers, while the
    // median absolute deviation barely moves (breakdown point 50%).
    // Median policy: the LOWER median by rank ((n+1) div 2 under a
    // fully tie-broken order) — a rank-selected ROW VALUE, never an
    // interpolated average, so both engines pick the identical double
    // and the 3×MAD threshold compares identical values. Scale shape:
    // two rank windows partitioned by event_type plus two broadcast
    // joins of the O(|types|) median tables; at 100 TB the per-type
    // sort is the honest cost of an exact median (the approx path is
    // profile_numeric_sketch).
    QueryDef(
      "robust_mad_screen",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), col("event_id"), col("value"))
        val byType = Window.partitionBy("event_type")
        val wv = byType.orderBy(col("value"), col("event_id"))
        val med = ev.withColumn("rn", row_number().over(wv).cast("long"))
          .withColumn("nt", count(lit(1)).over(byType))
          .filter(col("rn") === expr("(nt + 1) div 2"))
          .select(col("event_type"), col("value").as("med"))
        val devs = ev.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("value") - col("med")))
        val wd = byType.orderBy(col("dev"), col("event_id"))
        val mad = devs.withColumn("rn", row_number().over(wd).cast("long"))
          .withColumn("nt", count(lit(1)).over(byType))
          .filter(col("rn") === expr("(nt + 1) div 2"))
          .select(col("event_type"), col("dev").as("mad"))
        devs.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            max(col("med")).as("median_value"),
            max(col("mad")).as("mad_value"),
            sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, event_id, value FROM events),
             |med AS (
             |  SELECT event_type, value AS med FROM (
             |    SELECT event_type, value,
             |      ROW_NUMBER() OVER (PARTITION BY event_type
             |        ORDER BY value, event_id) AS rn,
             |      count(*) OVER (PARTITION BY event_type) AS nt
             |    FROM ev) WHERE rn = (nt + 1) // 2),
             |devs AS (
             |  SELECT e.event_type, e.event_id, m.med,
             |         abs(e.value - m.med) AS dev
             |  FROM ev e JOIN med m USING (event_type)),
             |mad AS (
             |  SELECT event_type, dev AS mad FROM (
             |    SELECT event_type, dev,
             |      ROW_NUMBER() OVER (PARTITION BY event_type
             |        ORDER BY dev, event_id) AS rn,
             |      count(*) OVER (PARTITION BY event_type) AS nt
             |    FROM devs) WHERE rn = (nt + 1) // 2)
             |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_rows,
             |  max(d.med) AS median_value, max(m.mad) AS mad_value,
             |  CAST(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_outliers
             |FROM devs d JOIN mad m USING (event_type)
             |GROUP BY d.event_type ORDER BY event_type""".stripMargin)),

    // Variance-band outlier screen with the comparison kept ENTIRELY in
    // exact decimal arithmetic: |v − μ| > 2σ is algebraically cleared of
    // divisions — (n·v − S)² > 4·(n·SS − S²) with S = Σv, SS = Σv² as
    // DECIMAL sums — so the boundary decision is integer-exact on both
    // engines (no Welford-vs-textbook FP drift, no ULP flips at the
    // threshold). Every intermediate is cast to a width sized to this
    // lake's magnitudes (v < 10⁴ with 2 dp, n < 10⁸ per type) so no
    // product exceeds DuckDB's hard 38-digit multiply limit; a larger
    // deployment re-sizes the widths with the lake. Two aggregation
    // passes (moments, then the screen), 1-row-per-type moments
    // broadcast back.
    QueryDef(
      "value_outlier_screen",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
        val moments = ev.groupBy("event_type").agg(
          count(lit(1)).cast("decimal(8,0)").as("n"),
          sum(col("v")).cast("decimal(16,2)").as("s"),
          sum((col("v") * col("v")).cast("decimal(29,4)")).cast("decimal(29,4)").as("ss"))
        ev.join(broadcast(moments), "event_type")
          .withColumn("lhs", (col("n") * col("v") - col("s")).cast("decimal(16,2)"))
          .withColumn("rhs",
            (col("n") * col("ss") - (col("s") * col("s")).cast("decimal(33,4)"))
              .cast("decimal(24,4)"))
          .withColumn("is_out",
            (col("lhs") * col("lhs")).cast("decimal(33,4)") >
              (lit(4).cast("decimal(2,0)") * col("rhs")).cast("decimal(27,4)"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events),
             |m AS (
             |  SELECT event_type, CAST(count(*) AS DECIMAL(8,0)) AS n,
             |    CAST(sum(v) AS DECIMAL(16,2)) AS s,
             |    CAST(sum(CAST(v * v AS DECIMAL(29,4))) AS DECIMAL(29,4)) AS ss
             |  FROM ev GROUP BY 1),
             |scr AS (
             |  SELECT ev.event_type, v,
             |    CAST(n * v - s AS DECIMAL(16,2)) AS lhs,
             |    CAST(n * ss - CAST(s * s AS DECIMAL(33,4)) AS DECIMAL(24,4)) AS rhs
             |  FROM ev JOIN m ON ev.event_type = m.event_type)
             |SELECT event_type, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN
             |    CAST(lhs * lhs AS DECIMAL(33,4)) >
             |    CAST(CAST(4 AS DECIMAL(2,0)) * rhs AS DECIMAL(27,4))
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM scr GROUP BY event_type""".stripMargin)),

    // One-pass Pearson correlation moments: n, Σq, Σp, Σq², Σp², Σqp in a
    // SINGLE scan with map-side partial aggregation — the textbook
    // shift-free covariance pattern (never two passes, never a centered
    // second scan). Every moment is an exact decimal sum (the doubles are
    // quantized to their storage scale first), so the aggregates are
    // bit-identical across engines; the final correlation is scalar IEEE
    // double arithmetic over those identical aggregates — deterministic
    // without any rounding fudge, because +,-,*,/,sqrt are correctly
    // rounded in both engines and the sums carry no FP accumulation
    // order dependence.
    QueryDef(
      "corr_onepass_moments",
      (s, d) => {
        val q = col("l_quantity").cast(DecimalType(12, 2))
        val p = col("l_extendedprice").cast(DecimalType(14, 2))
        t(s, d, "lineitem")
          .agg(
            count(lit(1)).as("n"),
            sum(q).cast("double").as("sum_q"),
            sum(p).cast("double").as("sum_p"),
            sum((q * q).cast(DecimalType(28, 4))).cast("double").as("sum_qq"),
            sum((p * p).cast(DecimalType(30, 4))).cast("double").as("sum_pp"),
            sum((q * p).cast(DecimalType(28, 4))).cast("double").as("sum_qp"))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("corr_qp",
            (col("nd") * col("sum_qp") - col("sum_q") * col("sum_p")) /
              sqrt((col("nd") * col("sum_qq") - col("sum_q") * col("sum_q")) *
                   (col("nd") * col("sum_pp") - col("sum_p") * col("sum_p"))))
          .select("n", "sum_q", "sum_p", "sum_qq", "sum_pp", "sum_qp", "corr_qp")
      },
      Some("""WITH m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_q,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_p,
             |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) *
             |      CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sum_qq,
             |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) *
             |      CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS DOUBLE) AS sum_pp,
             |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) *
             |      CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sum_qp
             |  FROM lineitem)
             |SELECT n, sum_q, sum_p, sum_qq, sum_pp, sum_qp,
             |  (CAST(n AS DOUBLE) * sum_qp - sum_q * sum_p) /
             |  sqrt((CAST(n AS DOUBLE) * sum_qq - sum_q * sum_q) *
             |       (CAST(n AS DOUBLE) * sum_pp - sum_p * sum_p)) AS corr_qp
             |FROM m""".stripMargin)),

    // COUNT(DISTINCT) over a sliding window — 7-day distinct active users
    // per event type, sliding daily. Spark has no distinct aggregate over
    // a RANGE frame, and the naive fix (per-day collect_set unions or a
    // range self-join) is quadratic in the window. The scalable shape:
    // dedup to (type, user, day) FIRST (map-side combinable, collapses
    // the raw stream), then explode each surviving row to the ≤7 window
    // starts that cover it and run one hash countDistinct per (type,
    // window) — the expansion factor is window/slide, a constant, and the
    // heavy dedup happens BEFORE the 7× blow-up, not after. Days are
    // exact integer epoch-day numbers on both engines (the date_trunc
    // DATE-vs-TIMESTAMP trap); everything is integers.
    QueryDef(
      "window_sliding_distinct",
      (s, d) => {
        t(s, d, "events")
          .select(col("event_type"),
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("dnum"),
            col("user_id"))
          .distinct()
          .select(col("event_type"), col("user_id"),
            explode(sequence(col("dnum") - 6, col("dnum"))).as("win_day"))
          .groupBy("event_type", "win_day")
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT event_type,
             |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dnum,
             |    user_id
             |  FROM events),
             |expanded AS (
             |  SELECT event_type, user_id, unnest(generate_series(dnum - 6, dnum)) AS win_day
             |  FROM days)
             |SELECT event_type, win_day,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM expanded GROUP BY 1, 2""".stripMargin)),

    // Equi-depth histogram build (the statistics a cost-based optimizer
    // collects: 10 buckets of equal row count with value bounds). Scale
    // shape (r9 — the PlanAudit guard flagged the old NTILE over a global
    // single-task sort): the global rank is DECOMPOSED (the
    // decile_lift_table pattern) — coarse 100-unit price bins, bounded by
    // the price DOMAIN, carry broadcast running offsets from the only
    // unpartitioned window (per-bin totals), the in-bin row_numbers run
    // PARTITIONED, and the NTILE index is arithmetic on the exact rank.
    // Determinism under duplicate sort keys: only the ORDERING VALUE
    // itself is aggregated (count/min/max of l_extendedprice), so tied
    // rows are interchangeable — any tie order yields the same per-bucket
    // price multiset — and the naive-NTILE oracle proves it.
    QueryDef(
      "equidepth_histogram",
      (s, d) => {
        val pr = t(s, d, "lineitem").select(col("l_extendedprice"))
          .withColumn("bin", floor(col("l_extendedprice") / lit(100)).cast("long"))
        val binTot = pr.groupBy("bin").agg(count(lit(1)).as("bc"))
        val wB = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = binTot
          .withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
          .select("bin", "base")
        val nTot = pr.groupBy().agg(count(lit(1)).as("n_total"))
        val wIn = Window.partitionBy("bin").orderBy("l_extendedprice")
        pr.join(broadcast(offs), Seq("bin"))
          .withColumn("rn", col("base") + row_number().over(wIn).cast("long"))
          .join(broadcast(nTot))
          .withColumn("bucket", expr(
            """CAST(CASE
              |  WHEN rn <= (n_total % 10) * (n_total div 10 + 1)
              |  THEN (rn - 1) div (n_total div 10 + 1) + 1
              |  ELSE n_total % 10
              |    + (rn - (n_total % 10) * (n_total div 10 + 1) - 1)
              |      div (n_total div 10) + 1
              |END AS BIGINT)""".stripMargin))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_extendedprice")).as("lo"),
            max(col("l_extendedprice")).as("hi"))
          .orderBy("bucket")
      },
      Some("""SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
             |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
             |FROM (SELECT l_extendedprice,
             |        CAST(NTILE(10) OVER (ORDER BY l_extendedprice) AS BIGINT) AS bucket
             |      FROM lineitem)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Running COUNT(DISTINCT) — cumulative distinct active users per
    // event type by day — via the first-occurrence decomposition: a
    // distinct-user-day grid, row_number = 1 marks each user's FIRST day
    // per type (one keyed window), daily first-timer counts aggregate,
    // and a running sum over the tiny (type, day) series yields the
    // cumulative distinct count. No growing distinct-state window ever
    // exists — the heavy data passes one hash window; the cumulative
    // frame runs over |types|·|days| rows. Pure integers.
    QueryDef(
      "window_running_distinct",
      (s, d) => {
        val firstW = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "user_id").orderBy("dnum")
        val cumW = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("dnum")
        t(s, d, "events")
          .select(col("event_type"),
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("dnum"),
            col("user_id"))
          .distinct()
          .withColumn("rn", row_number().over(firstW))
          .filter(col("rn") === 1)
          .groupBy("event_type", "dnum")
          .agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users", sum(col("new_users")).over(cumW))
          .select("event_type", "dnum", "new_users", "cum_users")
      },
      Some("""WITH grid AS (
             |  SELECT DISTINCT event_type,
             |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dnum,
             |    user_id
             |  FROM events),
             |firsts AS (
             |  SELECT event_type, user_id, min(dnum) AS dnum
             |  FROM grid GROUP BY 1, 2),
             |daily AS (
             |  SELECT event_type, dnum, CAST(count(*) AS BIGINT) AS new_users
             |  FROM firsts GROUP BY 1, 2)
             |SELECT event_type, dnum, new_users,
             |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY dnum) AS BIGINT) AS cum_users
             |FROM daily""".stripMargin)),

    // Exact ROC-AUC by rank-sum (Mann-Whitney with average-rank tie
    // handling): score = event value, positive class = purchases. The
    // scale shape (r9 rewrite — the r8 driver smoke showed the
    // distinct-score series GROWING with the data, 21× at 10×): the
    // running below-count is a TWO-LEVEL decomposed rank. Scores collapse
    // per distinct value (map-side combinable), then split into coarse
    // unit-value bins (`floor(score)` — bounded by the value DOMAIN,
    // ~hundreds of bins, not by row count); the only unpartitioned window
    // runs over the per-BIN totals, and the per-score running count is
    // that broadcast bin offset plus a running sum PARTITIONED by bin —
    // distributed at any scale, exact because floor() respects score
    // order. Same decomposition as decile_lift_table; the naive oracle
    // (one global ordered window) proves it exact. All rank arithmetic is
    // ×2-scaled integer (tie midpoints are halves), so num/den are exact
    // BIGINTs on both engines and the final AUC is one IEEE division.
    QueryDef(
      "eval_auc_ranksum",
      (s, d) => {
        val ev = t(s, d, "events").select(col("value").as("score"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        val g = ev.groupBy("score")
          .agg(sum(col("pos")).as("pos_g"), count(lit(1)).as("cnt_g"))
          .withColumn("bin", floor(col("score")).cast("long"))
        val binTot = g.groupBy("bin").agg(sum(col("cnt_g")).as("bin_cnt"))
        val wBin = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = binTot
          .withColumn("base", coalesce(sum(col("bin_cnt")).over(wBin), lit(0L)))
          .select("bin", "base")
        val wIn = Window.partitionBy("bin").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)
        g.join(broadcast(offs), Seq("bin"))
          .withColumn("cb",
            col("base") + coalesce(sum(col("cnt_g")).over(wIn), lit(0L)))
          .agg(sum(col("pos_g")).as("np"), sum(col("cnt_g")).as("tot"),
            sum(col("pos_g") * (col("cb") * lit(2L) + col("cnt_g") + lit(1L)))
              .as("tr"))
          .select(col("np").as("n_pos"), (col("tot") - col("np")).as("n_neg"),
            (col("tr") - col("np") * (col("np") + lit(1L))).as("auc_num"),
            (col("np") * (col("tot") - col("np")) * lit(2L)).as("auc_den"))
          .withColumn("auc",
            col("auc_num").cast("double") / col("auc_den").cast("double"))
      },
      Some("""WITH ev AS (
             |  SELECT value AS score,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
             |  FROM events),
             |g AS (
             |  SELECT score, CAST(sum(pos) AS BIGINT) AS pos_g,
             |    CAST(count(*) AS BIGINT) AS cnt_g
             |  FROM ev GROUP BY 1),
             |r AS (
             |  SELECT pos_g, cnt_g,
             |    COALESCE(CAST(sum(cnt_g) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             |      0) AS cb
             |  FROM g),
             |a AS (
             |  SELECT CAST(sum(pos_g) AS BIGINT) AS np,
             |    CAST(sum(cnt_g) AS BIGINT) AS tot,
             |    CAST(sum(pos_g * (cb * 2 + cnt_g + 1)) AS BIGINT) AS tr
             |  FROM r)
             |SELECT np AS n_pos, tot - np AS n_neg,
             |  tr - np * (np + 1) AS auc_num,
             |  np * (tot - np) * 2 AS auc_den,
             |  CAST(tr - np * (np + 1) AS DOUBLE) /
             |    CAST(np * (tot - np) * 2 AS DOUBLE) AS auc
             |FROM a""".stripMargin)),

    // Distribution drift between two time slices of the event stream as
    // an EXACT total-variation distance over fixed-width value bins:
    // TVD = Σ_bins tvd_num / tvd_den with both terms integer (cross-
    // multiplied counts, never per-engine float ratios — the ln() in the
    // classic PSI is exactly the cross-engine FP hazard this avoids).
    // One scan, one 10-row aggregate, a width-10 window for the totals;
    // at 100 TB the monitor runs per ingestion batch with the reference
    // histogram broadcast instead of windowed.
    QueryDef(
      "drift_tvd_bins",
      (s, d) => {
        val ev = t(s, d, "events").select(
          least(floor(col("value") / lit(50.0)), lit(9L)).cast("long").as("bin"),
          when(expr("ts < TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1L)
            .otherwise(0L).as("is_ref"))
        val g = ev.groupBy("bin").agg(
          sum(col("is_ref")).as("ref_cnt"),
          sum(lit(1L) - col("is_ref")).as("cur_cnt"))
        val wAll = Window.partitionBy(lit(1))
        g.withColumn("tot_ref", sum(col("ref_cnt")).over(wAll))
          .withColumn("tot_cur", sum(col("cur_cnt")).over(wAll))
          .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
            abs(col("ref_cnt") * col("tot_cur") - col("cur_cnt") * col("tot_ref"))
              .as("tvd_num"),
            (col("tot_ref") * col("tot_cur") * lit(2L)).as("tvd_den"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bin,
             |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
             |  FROM events),
             |g AS (
             |  SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
             |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
             |  FROM ev GROUP BY 1),
             |tt AS (
             |  SELECT bin, ref_cnt, cur_cnt,
             |    CAST(sum(ref_cnt) OVER () AS BIGINT) AS tot_ref,
             |    CAST(sum(cur_cnt) OVER () AS BIGINT) AS tot_cur
             |  FROM g)
             |SELECT bin, ref_cnt, cur_cnt,
             |  abs(ref_cnt * tot_cur - cur_cnt * tot_ref) AS tvd_num,
             |  tot_ref * tot_cur * 2 AS tvd_den
             |FROM tt""".stripMargin)),

    // Per-group OLS regression (extendedprice ~ quantity per returnflag)
    // from one-pass exact-decimal moments — the corr_onepass_moments
    // pattern extended to the fitted line: slope and intercept are scalar
    // IEEE arithmetic over bit-identical decimal sums, so the comparison
    // stays exact without any rounding fudge. One scan, map-side partial
    // aggregation to 3 rows; the same moments power any per-segment
    // linear fit (trend monitors, price curves) at any scale.
    QueryDef(
      "ols_group_regression",
      (s, d) => {
        val q = col("l_quantity").cast(DecimalType(12, 2))
        val p = col("l_extendedprice").cast(DecimalType(14, 2))
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(q).cast("double").as("sum_q"),
            sum(p).cast("double").as("sum_p"),
            sum((q * q).cast(DecimalType(28, 4))).cast("double").as("sum_qq"),
            sum((q * p).cast(DecimalType(28, 4))).cast("double").as("sum_qp"))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("slope",
            (col("nd") * col("sum_qp") - col("sum_q") * col("sum_p")) /
            (col("nd") * col("sum_qq") - col("sum_q") * col("sum_q")))
          .withColumn("intercept",
            (col("sum_p") - col("slope") * col("sum_q")) / col("nd"))
          .select("l_returnflag", "n", "slope", "intercept")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_q,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_p,
             |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) *
             |      CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sum_qq,
             |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) *
             |      CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sum_qp
             |  FROM lineitem GROUP BY 1),
             |f AS (
             |  SELECT l_returnflag, n, sum_q, sum_p,
             |    (CAST(n AS DOUBLE) * sum_qp - sum_q * sum_p) /
             |    (CAST(n AS DOUBLE) * sum_qq - sum_q * sum_q) AS slope
             |  FROM m)
             |SELECT l_returnflag, n, slope,
             |  (sum_p - slope * sum_q) / CAST(n AS DOUBLE) AS intercept
             |FROM f""".stripMargin)),

    // CBO-style equi-join size estimation from per-key histograms — the
    // arithmetic a cost-based optimizer runs before picking a join
    // strategy, exposed as a query: for the (skew-prone) events self-join
    // on user_id, the FULL histogram product Σ c_u² predicts the join
    // EXACTLY, while the truncated top-100-heavy-keys histogram (what an
    // optimizer actually stores) shows how much the tail contributes.
    // Everything is integer: the exactness boolean is the contract that
    // the estimator arithmetic is right, not approximately right. The
    // histogram is one map-side-combinable aggregate; the top-100 is
    // TakeOrdered (never a global sort). The "actual" audit leg counts
    // the self-join WITHOUT materializing it: each probe row joins the
    // histogram and contributes its partner count c(u), so
    // sum(c) = Σ c_u² = |A ⋈ A| exactly — a row-linear plan through a
    // different operator path (raw-row ⋈ aggregate, then a sum) than the
    // estimator's c·c. The r14 SkewStress gate caught the original
    // materializing form (events ⋈ events, then count) as this round's
    // one quadratic: at a 30% hot user the hot key alone expands to
    // 0.09·|events|² rows — 0.44 s → 6.77 s at sf0.1, and a cluster
    // killer at 100 TB — for a count that never needed the rows.
    QueryDef(
      "selfjoin_size_estimate",
      (s, d) => {
        val hist = t(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("c"))
        val est = hist.agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("est_full"))
        val top = hist.orderBy(col("c").desc, col("user_id")).limit(100)
          .agg(sum(col("c") * col("c")).as("est_top100"))
        val ev = t(s, d, "events").select(col("user_id"))
        val actual = ev.join(hist, "user_id").agg(sum(col("c")).as("actual_rows"))
        est.crossJoin(top).crossJoin(actual)
          .withColumn("estimate_exact", col("est_full") === col("actual_rows"))
      },
      Some("""WITH hist AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1),
             |est AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(sum(c * c) AS BIGINT) AS est_full
             |  FROM hist),
             |top AS (
             |  SELECT CAST(sum(c * c) AS BIGINT) AS est_top100
             |  FROM (SELECT c FROM hist ORDER BY c DESC, user_id LIMIT 100)),
             |actual AS (
             |  SELECT CAST(sum(c) AS BIGINT) AS actual_rows
             |  FROM events a JOIN hist USING (user_id))
             |SELECT n_keys, est_full, est_top100, actual_rows,
             |  est_full = actual_rows AS estimate_exact
             |FROM est CROSS JOIN top CROSS JOIN actual""".stripMargin)),

    // Per-language percentile-rank normalization of document length — the
    // feature-scaling step that makes a quality signal comparable across
    // languages (a 2000-char Chinese doc and a 2000-char English doc sit
    // at very different percentiles). percent_rank's (rank−1)/(n−1) is a
    // ratio of exact integers, so the normalized value is one identical
    // IEEE division on both engines; ties share a rank by definition.
    //
    // Scale (r14): lang is the one NATIVELY hot key in every lake — en is
    // 41% of this corpus and ~half of any real crawl — so the naive
    // per-lang window (one sort task holding the whole English corpus)
    // is the events_sessionize collapse with no salt lever. But unlike a
    // session chain, percent_rank is a pure function of the per-language
    // VALUE HISTOGRAM: rank(v) = 1 + Σ_{v'<v} cnt(v'), n = Σ cnt, ties
    // share the first row's rank by definition. So the plan is the
    // weighted_median_price decomposition — collapse to one row per
    // (lang, n_chars) map-side FIRST, run the rank window over the
    // DISTINCT length domain (≤ a few thousand rows per language at ANY
    // corpus size), and hash-join the histogram back on (lang, n_chars),
    // an exchange the hot language spreads across its whole value
    // domain. No row-proportional per-key sort anywhere; identical
    // output (pr is functionally determined by (lang, n_chars)), oracle
    // untouched. This lands the upgrade the r13 scaladoc only promised
    // ("a 100 TB single-language corpus upgrades to a two-pass rank").
    //
    // NULL semantics (ADVICE r14): the join-back is NULL-SAFE (<=>), so a
    // NULL lang or n_chars still matches its histogram group instead of
    // dropping the row; groupBy already retains NULL groups, Spark's asc
    // window ordering puts NULLs first, and the oracle pins NULLS FIRST
    // to match (DuckDB defaults to NULLS LAST) — a NULL-n_chars row then
    // ranks 0.0 identically on both engines. Pinned on a NULL-bearing
    // frame by AnalyticsNullSpec.
    QueryDef(
      "quality_percentile_norm",
      (s, d) => {
        val wCum = Window.partitionBy("lang").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wLang = Window.partitionBy("lang")
        val hist = t(s, d, "documents")
          .groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
          .withColumn("smaller", coalesce(sum("cnt").over(wCum), lit(0L)))
          .withColumn("n", sum("cnt").over(wLang))
          .select(col("lang").as("h_lang"), col("n_chars").as("h_n_chars"),
            when(col("n") === 1, lit(0.0))
              .otherwise(col("smaller").cast("double") /
                (col("n") - 1).cast("double")).as("pr"))
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        docs.join(hist, docs("lang") <=> hist("h_lang") &&
            docs("n_chars") <=> hist("h_n_chars"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("pr"))
      },
      Some("""SELECT doc_id, lang, n_chars,
             |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars NULLS FIRST) AS pr
             |FROM documents""".stripMargin)),

    // One k-core peeling round over the co-purchase graph (k=4): drop
    // nodes of degree < k, then report each survivor's degree before and
    // after the peel — the primitive that iterates to the k-core
    // decomposition (community cores, spam-farm detection). Same
    // one-round contract as pagerank_one_step: each round is two
    // map-side-combined degree aggregates plus two semi joins on the
    // edge list — at 100 TB the loop runs rounds-to-fixpoint with the
    // shrinking survivor set localCheckpoint'd per round exactly like
    // dedup_components. All integers; survivors ordered deterministically
    // by the oracle-side sort.
    QueryDef(
      "kcore_peel_round",
      (s, d) => {
        val edges = sharedCopurchaseEdges(s, d)
        val touch = edges.select(col("a").as("node"))
          .unionByName(edges.select(col("b").as("node")))
        val deg0 = touch.groupBy("node").agg(count(lit(1)).as("deg0"))
        val kept = deg0.filter(col("deg0") >= 4)
        val keptEdges = edges
          .join(kept.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(kept.select(col("node").as("b")), Seq("b"), "left_semi")
        val deg1 = keptEdges.select(col("a").as("node"))
          .unionByName(keptEdges.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg1"))
        kept.join(deg1, Seq("node"), "left")
          .select(col("node"), col("deg0"),
            coalesce(col("deg1"), lit(0L)).as("deg1"))
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM items x JOIN items y
             |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
             |deg0 AS (
             |  SELECT node, CAST(count(*) AS BIGINT) AS deg0
             |  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
             |  GROUP BY node),
             |kept AS (SELECT * FROM deg0 WHERE deg0 >= 4),
             |ke AS (
             |  SELECT e.a, e.b FROM edges e
             |  WHERE e.a IN (SELECT node FROM kept)
             |    AND e.b IN (SELECT node FROM kept)),
             |deg1 AS (
             |  SELECT node, CAST(count(*) AS BIGINT) AS deg1
             |  FROM (SELECT a AS node FROM ke UNION ALL SELECT b FROM ke)
             |  GROUP BY node)
             |SELECT k.node, k.deg0, COALESCE(d.deg1, 0) AS deg1
             |FROM kept k LEFT JOIN deg1 d USING (node)""".stripMargin)),

    // RFM customer segmentation — the serving-layer scoring table every
    // commerce warehouse materializes: per customer, NTILE(5) quintiles
    // of recency (latest order date), frequency (order count), and
    // monetary (exact-decimal revenue), concatenated into the 3-digit
    // segment code. Each quintile assignment is deterministic because the
    // ordering is total (metric, then custkey) on both engines. Scale
    // shape (r9 rewrite — the old three global ntile(5) windows ran
    // single-task over O(customers) rows): each quintile is computed from
    // the DECOMPOSED global rank (the decile_lift_table pattern) — coarse
    // metric bins whose count is bounded by the metric DOMAIN (calendar
    // days for recency, order-count integers for frequency,
    // 10k-revenue-unit buckets for monetary), one unpartitioned window
    // over the per-bin totals only, broadcast offsets, and a row_number
    // PARTITIONED by bin; the ntile index is then pure arithmetic on the
    // exact rank (first n%5 tiles get ⌈n/5⌉ rows — the SQL NTILE
    // contract on both engines). The naive oracle NTILEs prove the
    // decomposition exact.
    QueryDef(
      "rfm_segmentation",
      (s, d) => {
        val agg = t(s, d, "orders").groupBy("o_custkey").agg(
          max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("monetary_d"))
        val nTot = agg.groupBy().agg(count(lit(1)).as("n_total"))
        // exact global DESC rank via bounded-bin offsets + in-bin
        // row_number, then the NTILE arithmetic on (rank, n_total)
        def quintile(bin: org.apache.spark.sql.Column,
            inOrd: Seq[org.apache.spark.sql.Column], name: String) = {
          val b = agg.withColumn("vbin", bin)
          val binTot = b.groupBy("vbin").agg(count(lit(1)).as("bc"))
          val wB = Window.orderBy(col("vbin").desc)
            .rowsBetween(Window.unboundedPreceding, -1)
          val offs = binTot
            .withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
            .select("vbin", "base")
          val wIn = Window.partitionBy("vbin").orderBy(inOrd: _*)
          b.join(broadcast(offs), Seq("vbin"))
            .withColumn("rn", col("base") + row_number().over(wIn).cast("long"))
            .join(broadcast(nTot))
            .withColumn(name, expr(
              """CAST(CASE
                |  WHEN rn <= (n_total % 5) * (n_total div 5 + 1)
                |  THEN (rn - 1) div (n_total div 5 + 1) + 1
                |  ELSE n_total % 5
                |    + (rn - (n_total % 5) * (n_total div 5 + 1) - 1)
                |      div (n_total div 5) + 1
                |END AS BIGINT)""".stripMargin))
            .select(col("o_custkey"), col(name))
        }
        val rT = quintile(col("last_order"), Seq(col("o_custkey")), "r")
        val fT = quintile(col("n_orders"), Seq(col("o_custkey")), "f")
        val mT = quintile(floor(col("monetary_d") / lit(10000)).cast("long"),
          Seq(col("monetary_d").desc, col("o_custkey")), "m")
        agg.join(rT, Seq("o_custkey")).join(fT, Seq("o_custkey"))
          .join(mT, Seq("o_custkey"))
          .select(col("o_custkey"), col("n_orders"),
            col("monetary_d").cast("double").as("monetary"),
            col("r"), col("f"), col("m"),
            (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
      },
      Some("""WITH agg AS (
             |  SELECT o_custkey, max(o_orderdate) AS last_order,
             |    CAST(count(*) AS BIGINT) AS n_orders,
             |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_d
             |  FROM orders GROUP BY 1),
             |scored AS (
             |  SELECT o_custkey, n_orders, monetary_d,
             |    CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT) AS r,
             |    CAST(ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS f,
             |    CAST(ntile(5) OVER (ORDER BY monetary_d DESC, o_custkey) AS BIGINT) AS m
             |  FROM agg)
             |SELECT o_custkey, n_orders, CAST(monetary_d AS DOUBLE) AS monetary,
             |  r, f, m, r * 100 + f * 10 + m AS segment
             |FROM scored""".stripMargin)),

    // CUSUM change-point statistic per event-type over the daily series —
    // the sequential drift alarm next to drift_tvd_bins' two-slice
    // histogram: how far has the cumulative deviation from the mean rate
    // run up, at its worst? The recursive CUSUM fold
    // S_t = max(0, S_{t-1} + dev_t) is deliberately NOT computed as a
    // fold: its maximum equals the maximum DRAWUP of the plain prefix
    // sum, max_t (P_t − min(0, min_{k≤t} P_k)) — the min is floored at 0
    // because the fold starts from the empty prefix P_0 = 0 (without the
    // floor, a series whose deviations start positive under-reports: devs
    // [8,4,−8,−4] → P = [8,12,4,0], true max CUSUM 12, observed-min-only
    // drawup 4) — two ordinary windows (cumsum +
    // running min) over the per-day aggregate, scan-friendly at any
    // scale where a stateful fold would serialize. Deviations are
    // mean-centered with cross-multiplied integers (n_days·cnt_t −
    // total), so the whole statistic is exact BIGINT arithmetic.
    QueryDef(
      "cusum_rate_drift",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
              .as("dnum"))
          .agg(count(lit(1)).as("cnt"))
        val wT = Window.partitionBy("event_type")
        val wCum = Window.partitionBy("event_type").orderBy("dnum")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("n_days", count(lit(1)).over(wT))
          .withColumn("total", sum(col("cnt")).over(wT))
          .withColumn("dev", col("n_days") * col("cnt") - col("total"))
          .withColumn("p", sum(col("dev")).over(wCum))
          .withColumn("runmin", min(col("p")).over(wCum))
          .groupBy("event_type")
          .agg(max(col("n_days")).as("n_days"), max(col("total")).as("total_cnt"),
            greatest(max(col("p") - least(col("runmin"), lit(0L))), lit(0L))
              .as("max_cusum"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type,
             |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
             |      AS dnum,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |dev AS (
             |  SELECT event_type, dnum, cnt,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
             |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total
             |  FROM daily),
             |pre AS (
             |  SELECT event_type, dnum, n_days, total,
             |    CAST(sum(n_days * cnt - total) OVER (PARTITION BY event_type
             |      ORDER BY dnum ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
             |  FROM dev),
             |dd AS (
             |  SELECT event_type, n_days, total, p,
             |    CAST(min(p) OVER (PARTITION BY event_type
             |      ORDER BY dnum ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmin
             |  FROM pre)
             |SELECT event_type, max(n_days) AS n_days, max(total) AS total_cnt,
             |  greatest(max(p - least(runmin, 0)), 0) AS max_cusum
             |FROM dd GROUP BY event_type""".stripMargin)),

    // Exact-integer modularity audit of a graph partition — the metric
    // that scores any community assignment (here the mod-16 hash
    // coloring, a NULL partition: per-community contributions should
    // hover near zero, which is the null-model lesson the audit
    // teaches). Q = Σ_c (e_c/m − (d_c/2m)²) is all rationals, so it is
    // emitted cross-multiplied: q_num_c = 4m·e_c − d_c² over the common
    // denominator 4m² — every column BIGINT, no per-engine float in the
    // comparison. Cost: the edge build plus two map-side-combined
    // aggregates (internal-edge count per community, degree sum per
    // community); scoring a real clustering (e.g. the near-dup
    // components) swaps the assignment join, nothing else.
    QueryDef(
      "graph_modularity_audit",
      (s, d) => {
        // shared plain-edge fixture; the community columns are a cheap
        // projection over the checkpointed RDD, re-derived per consumer
        val edges = sharedCopurchaseEdges(s, d)
          .withColumn("ca", col("a") % 16).withColumn("cb", col("b") % 16)
        val m = edges.agg(count(lit(1)).as("m"))
        val internal = edges.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
        val degrees = edges.select(col("ca").as("community"))
          .unionByName(edges.select(col("cb").as("community")))
          .groupBy("community").agg(count(lit(1)).as("d_c"))
        degrees.join(internal, Seq("community"), "left")
          .select(col("community"), coalesce(col("e_c"), lit(0L)).as("e_c"),
            col("d_c"))
          .crossJoin(broadcast(m))
          .select(col("community"), col("e_c"), col("d_c"), col("m"),
            (col("m") * 4 * col("e_c") - col("d_c") * col("d_c")).as("q_num"),
            (col("m") * col("m") * 4).as("q_den"))
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT a, b, a % 16 AS ca, b % 16 AS cb FROM (
             |    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |    FROM items x JOIN items y
             |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)),
             |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
             |internal AS (
             |  SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_c
             |  FROM edges WHERE ca = cb GROUP BY 1),
             |degrees AS (
             |  SELECT community, CAST(count(*) AS BIGINT) AS d_c
             |  FROM (SELECT ca AS community FROM edges
             |        UNION ALL SELECT cb FROM edges)
             |  GROUP BY 1)
             |SELECT community, COALESCE(e_c, 0) AS e_c, d_c, m,
             |  m * 4 * COALESCE(e_c, 0) - d_c * d_c AS q_num,
             |  m * m * 4 AS q_den
             |FROM degrees LEFT JOIN internal USING (community) CROSS JOIN mm""".stripMargin)),

    // Funnel latency: p50/p90 time from each user's FIRST signup to their
    // first purchase at or after it — the time-to-convert percentiles
    // next to funnel_signup_purchase's counts. Diffs are exact epoch-
    // MICROsecond integers (second-level truncation is engine-ambiguous
    // on sub-second timestamps); the percentiles are linear-interpolated over them
    // (the engine-identical double arithmetic the stats_quantiles row
    // established); the conversion rate is one division of exact counts.
    // Shape: two filtered aggregates + one join, nothing row-scale sorts
    // globally (percentile over the converted-user diffs only).
    QueryDef(
      "funnel_time_to_convert",
      (s, d) => {
        val ev = t(s, d, "events")
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("su_ts"))
        val fp = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pu_ts"))
          .join(su, "user_id")
          .filter(col("pu_ts") >= col("su_ts"))
          .groupBy("user_id")
          .agg(min(col("pu_ts")).as("fp_ts"), min(col("su_ts")).as("su0"))
          .withColumn("diff_us",
            expr("unix_micros(CAST(fp_ts AS TIMESTAMP))") -
              expr("unix_micros(CAST(su0 AS TIMESTAMP))"))
        val a = su.agg(count(lit(1)).as("n_signup"))
        val b = fp.agg(count(lit(1)).as("n_converted"),
          expr("percentile(diff_us, 0.5D)").as("p50_us"),
          expr("percentile(diff_us, 0.9D)").as("p90_us"))
        a.crossJoin(b).withColumn("conv_rate",
          col("n_converted").cast("double") / col("n_signup").cast("double"))
      },
      Some("""WITH su AS (
             |  SELECT user_id, min(ts) AS su_ts FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |fp AS (
             |  SELECT e.user_id, min(e.ts) AS fp_ts, min(su.su_ts) AS su0
             |  FROM events e JOIN su ON e.user_id = su.user_id
             |    AND e.ts >= su.su_ts
             |  WHERE e.event_type = 'purchase' GROUP BY 1),
             |dd AS (
             |  SELECT epoch_us(fp_ts) - epoch_us(su0) AS diff_us
             |  FROM fp),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_signup FROM su),
             |b AS (SELECT CAST(count(*) AS BIGINT) AS n_converted,
             |        quantile_cont(diff_us, 0.5) AS p50_us,
             |        quantile_cont(diff_us, 0.9) AS p90_us
             |      FROM dd)
             |SELECT n_signup, n_converted, p50_us, p90_us,
             |  CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE) AS conv_rate
             |FROM a CROSS JOIN b""".stripMargin)),

    // Association-rule metrics over the co-purchase pairs: support,
    // confidence, and lift for the 20 most-supported part pairs — the
    // market-basket layer above copurchase_pairs' raw counts. Selection
    // is fully tie-broken on exact integers (support DESC, part_a,
    // part_b); confidence and lift are single divisions of exact counts
    // (lift cross-multiplied first: n_ab·N over n_a·n_b), so both
    // engines divide identical integers. Per-part order frequencies
    // broadcast; N is the 1-row order count.
    QueryDef(
      "basket_rule_lift",
      (s, d) => {
        // r17 note (measured, left lazy): eager-checkpointing the shared
        // `items` distinct looked like the round-11 multi-consumer fix
        // (5 lineitem scans in the before-plan) but BENCHED SLOWER
        // (2.92 → 3.50 s at sf0.1, 5.11 → 5.98 s at 10×): the self-join
        // already shares one exchange via ReusedExchange, the remaining
        // re-scans are cheap 11 MB parquet aggregates, and the pin adds a
        // full materialization plus a stats-blind leaf (the ANF
        // pin-rejection class, PERF_NOTES r16). Lazy is the measured
        // winner here.
        val items = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val nOrd = items.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n_orders"))
        val freq = items.groupBy("l_partkey").agg(count(lit(1)).as("n_x"))
        val pairs = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
          .join(items.select(col("l_orderkey"), col("l_partkey").as("part_b")),
            "l_orderkey")
          .filter(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
          .orderBy(col("n_ab").desc, col("part_a"), col("part_b")).limit(20)
        // r17 flipped the broadcast direction away from FREQ (one row per
        // part — corpus-proportional, the 100 TB driver-OOM side), but
        // the flipped form streamed the full freq table through TWO
        // shuffle joins to decorate 20 rows (measured: 2.71 s head /
        // 4.45 s 10× vs the unsafe old broadcast's 2.48 / 3.58 —
        // bench/evidence/pin_ab_r18.json). r18 keeps the
        // scale-safety and removes the cost: semi-filter freq down to
        // the ≤40 part ids the top-20 pairs actually reference (a
        // broadcast of 40 ids — constant by the LIMIT), then broadcast
        // the ≤40-row filtered result for both attaches. freq is never
        // broadcast whole and is streamed once, map-side filtered.
        // `pairs` is eagerly pinned (20 rows by construction) so its
        // heavy self-join runs ONCE under its two consumers (ids +
        // decorate); the identity groupBy over the pinned rows makes the
        // 20-row bound visible to the planner/CI audit (the
        // embedding_outlier med/mad pattern).
        val pairsP = pairs.localCheckpoint(true)
          .groupBy("part_a", "part_b").agg(max(col("n_ab")).as("n_ab"))
        val ids = pairsP.select(explode(array(col("part_a"), col("part_b")))
          .as("pk")).distinct()
        val freqSmall = freq.join(broadcast(ids),
          col("l_partkey") === col("pk"), "left_semi")
        broadcast(pairsP)
          .join(broadcast(freqSmall.select(col("l_partkey").as("part_a"),
            col("n_x").as("n_a"))), "part_a")
          .join(broadcast(freqSmall.select(col("l_partkey").as("part_b"),
            col("n_x").as("n_b"))), "part_b")
          .crossJoin(broadcast(nOrd))
          .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
            col("n_b"), col("n_orders"),
            (col("n_ab").cast("double") / col("n_a").cast("double"))
              .as("confidence"),
            ((col("n_ab") * col("n_orders")).cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("lift"))
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
             |      FROM items),
             |freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_x
             |         FROM items GROUP BY 1),
             |pairs AS (
             |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             |    CAST(count(*) AS BIGINT) AS n_ab
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2
             |  ORDER BY n_ab DESC, part_a, part_b LIMIT 20)
             |SELECT part_a, part_b, n_ab, fa.n_x AS n_a, fb.n_x AS n_b, n_orders,
             |  CAST(n_ab AS DOUBLE) / CAST(fa.n_x AS DOUBLE) AS confidence,
             |  CAST(n_ab * n_orders AS DOUBLE) /
             |    CAST(fa.n_x * fb.n_x AS DOUBLE) AS lift
             |FROM pairs JOIN freq fa ON fa.l_partkey = part_a
             |           JOIN freq fb ON fb.l_partkey = part_b
             |CROSS JOIN n""".stripMargin)),

    // Exact weighted median (lower) of line price per supplier, weighted by
    // quantity — the robust per-group price statistic percentile_approx
    // cannot give exactly. Rank-selection, never interpolation. The median
    // is insensitive to ordering WITHIN a price tie: the selected value is
    // the smallest price whose through-price cumulative weight reaches half
    // the total, so weights collapse to one row per (supplier, price)
    // before the cumulative scan — the r12 form shuffled every raw line
    // with (orderkey, linenumber) tiebreak columns whose only job was
    // making the per-row cumulative deterministic. The median is a row
    // VALUE (no arithmetic on the double) and the weights ride exact
    // int64, so both engines select the identical row. Scale shape: ONE
    // hash exchange on l_suppkey, 3-column rows; the (suppkey, price)
    // group-by and the window both reuse it (partitioning by a prefix of
    // the grouping keys satisfies the clustered distribution), and per-key
    // sort state is one supplier's DISTINCT prices, never its lines.
    QueryDef(
      "weighted_median_price",
      (s, d) => {
        // floor() before the integer cast on BOTH engines: Spark's
        // double→long cast truncates while DuckDB's CAST rounds to
        // nearest, so an un-floored cast is a latent divergence on any
        // lake with non-integral quantities (TPC-H's happen to be whole).
        val li = t(s, d, "lineitem").select(
          col("l_suppkey"), col("l_extendedprice"),
          floor(col("l_quantity")).cast("long").as("qty"))
        val w = Window.partitionBy("l_suppkey").orderBy(col("l_extendedprice"))
        val tot = Window.partitionBy("l_suppkey")
        li.repartition(col("l_suppkey"))
          .groupBy("l_suppkey", "l_extendedprice")
          .agg(sum("qty").as("qty"))
          .withColumn("cum", sum("qty").over(w))
          .withColumn("total_weight", sum("qty").over(tot))
          .filter(col("cum") * 2 >= col("total_weight"))
          .groupBy("l_suppkey")
          .agg(min("l_extendedprice").as("weighted_median_price"),
            max("total_weight").as("total_weight"))
          .orderBy("l_suppkey")
      },
      Some("""WITH g AS (
             |  SELECT l_suppkey, l_extendedprice,
             |    sum(CAST(floor(l_quantity) AS BIGINT)) AS qty
             |  FROM lineitem GROUP BY 1, 2),
             |r AS (
             |  SELECT l_suppkey, l_extendedprice,
             |    sum(qty) OVER (PARTITION BY l_suppkey
             |                   ORDER BY l_extendedprice) AS cum,
             |    sum(qty) OVER (PARTITION BY l_suppkey) AS total_weight
             |  FROM g)
             |SELECT l_suppkey, min(l_extendedprice) AS weighted_median_price,
             |  CAST(max(total_weight) AS BIGINT) AS total_weight
             |FROM r WHERE cum * 2 >= total_weight
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // Pareto frontier (skyline) over part on (minimize p_retailprice,
    // maximize p_size): a part is excluded iff some strictly cheaper part
    // has a strictly larger size. Not a quadratic dominance join — the
    // classic 2-D skyline reduction: collapse to max-size-per-distinct-
    // price (bounded by the PRICE DOMAIN, not the row count), one running
    // max over prices strictly below, then a broadcast-sized join back.
    // The single-partition window runs over distinct prices only, so the
    // shape survives 100× row growth untouched; dominance compares are on
    // stored values — no FP arithmetic.
    QueryDef(
      "pareto_frontier_parts",
      (s, d) => {
        val p = t(s, d, "part")
        val byPrice = p.groupBy(col("p_retailprice").as("price_bin"))
          .agg(max("p_size").as("max_size_at_price"))
        val w = Window.orderBy("price_bin")
          .rowsBetween(Window.unboundedPreceding, -1)
        val run = byPrice.select(col("price_bin").as("p_retailprice"),
          max("max_size_at_price").over(w).as("best_cheaper"))
        p.join(broadcast(run), Seq("p_retailprice"))
          .filter(col("best_cheaper").isNull || col("best_cheaper") <= col("p_size"))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy("p_retailprice", "p_partkey")
      },
      Some("""WITH bp AS (SELECT p_retailprice, max(p_size) AS ms
             |            FROM part GROUP BY 1),
             |run AS (SELECT p_retailprice,
             |  max(ms) OVER (ORDER BY p_retailprice
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
             |  FROM bp)
             |SELECT p.p_partkey, p.p_retailprice, p.p_size
             |FROM part p JOIN run USING (p_retailprice)
             |WHERE best_cheaper IS NULL OR best_cheaper <= p.p_size
             |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin)),

    // Benford leading-digit audit of l_extendedprice — the classic
    // fabricated-data / corrupted-ingest screen: observed first-digit
    // frequency of the integer part. Counts are exact int64; the single
    // double division happens once per digit on identical integers, so
    // both engines emit bit-identical fractions. Scale shape: one
    // map-side-combined 9-row aggregate + a broadcast 1-row total —
    // corpus size only touches the scan.
    QueryDef(
      "benford_leading_digit",
      (s, d) => {
        val digits = t(s, d, "lineitem").select(
          substring(floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
        val counts = digits.groupBy("digit").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum("n").as("total"))
        counts.crossJoin(broadcast(total))
          .select(col("digit"), col("n"),
            (col("n").cast("double") / col("total").cast("double")).as("frac"))
          .orderBy("digit")
      },
      Some("""WITH d AS (
             |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
             |  FROM lineitem),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
             |SELECT digit, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS frac
             |FROM c CROSS JOIN tot ORDER BY digit""".stripMargin)),

    // Union-of-intervals coverage per customer: each order opens a 30-day
    // activity interval; emit the total UNION length (overlaps merged) and
    // the number of merged activity islands. The companion to
    // interval_overlap_sweep's max-concurrency — same sweep-line reduction
    // (±1 events, one running sum per key), never a quadratic interval
    // self-join: coverage is the sum of gaps-to-next-boundary while the
    // open count is positive, and an island starts exactly where the
    // pre-event count (open − delta) is zero. All day arithmetic is
    // integer-exact on midnight timestamps.
    QueryDef(
      "interval_union_coverage",
      (s, d) => {
        val iv = t(s, d, "orders").select(col("o_custkey"), col("o_orderdate"))
        val sweep = iv.select(col("o_custkey"), col("o_orderdate").as("ts"),
            lit(1L).as("delta"))
          .unionAll(iv.select(col("o_custkey"),
            (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("ts"),
            lit(-1L).as("delta")))
        // r18 (§2.4): one custkey-keyed exchange serves the boundary
        // aggregate AND the sweep window — hashpartitioning(custkey)
        // satisfies the (custkey, ts) aggregate's clustering requirement,
        // so the old plan's back-to-back (custkey, ts) + custkey
        // exchanges collapse to this one. The forfeited map-side partial
        // is a no-op here: (custkey, date) boundary duplicates are rare
        // by construction (one interval per order).
        val g = sweep.repartition(col("o_custkey"))
          .groupBy("o_custkey", "ts").agg(sum("delta").as("d"))
        val w = Window.partitionBy("o_custkey").orderBy("ts")
        g.withColumn("open", sum("d").over(w))
          .withColumn("next_ts", lead("ts", 1).over(w))
          .groupBy("o_custkey")
          .agg(
            sum(when(col("open") > 0,
              datediff(col("next_ts"), col("ts")).cast("long"))
              .otherwise(0L)).as("covered_days"),
            sum(when(col("open") > 0 && (col("open") - col("d")) === 0, 1L)
              .otherwise(0L)).as("n_islands"))
          .orderBy("o_custkey")
      },
      Some("""WITH sweep AS (
             |  SELECT o_custkey, o_orderdate AS ts, 1 AS delta FROM orders
             |  UNION ALL
             |  SELECT o_custkey, o_orderdate + INTERVAL 30 DAY AS ts, -1 AS delta
             |  FROM orders),
             |g AS (SELECT o_custkey, ts, CAST(sum(delta) AS BIGINT) AS d
             |      FROM sweep GROUP BY 1, 2),
             |r AS (
             |  SELECT o_custkey, ts, d,
             |    sum(d) OVER (PARTITION BY o_custkey ORDER BY ts
             |                 ROWS UNBOUNDED PRECEDING) AS open,
             |    lead(ts) OVER (PARTITION BY o_custkey ORDER BY ts) AS next_ts
             |  FROM g)
             |SELECT o_custkey,
             |  CAST(sum(CASE WHEN open > 0
             |    THEN date_diff('day', ts, next_ts) ELSE 0 END) AS BIGINT)
             |    AS covered_days,
             |  CAST(sum(CASE WHEN open > 0 AND open - d = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_islands
             |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Deterministic mode (argmax with total tie-break) per user: the most
    // frequent event_type, ties to the lexicographically smallest type —
    // the grouped-mode operator exact at any scale: one (user, type) count
    // aggregate, then a WindowGroupLimit-eligible ROW_NUMBER pick — never
    // a per-group collect.
    QueryDef(
      "mode_event_per_user",
      (s, d) => {
        val counts = t(s, d, "events")
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("n").desc, col("event_type"))
        counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
             |           FROM events GROUP BY 1, 2),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY n DESC, event_type) AS rk FROM c)
             |SELECT user_id, event_type AS mode_event, n FROM r
             |WHERE rk = 1 ORDER BY user_id""".stripMargin)),

    // Share-of-parent analytics: each nation's fraction of its REGION's
    // order revenue — the hierarchical-contribution read every BI rollup
    // serves. Aggregate once to (region, nation) on exact DECIMAL, get
    // the region total with a window over the 25-row aggregate (never a
    // second pass over the fact), and divide as doubles only at the end
    // (both decimal→double casts are exact at these magnitudes, and the
    // IEEE divide is engine-identical). Scale shape: one fact-side
    // map-side-combined aggregate after two broadcast dim hops; the
    // window runs over O(nations) rows.
    QueryDef(
      "share_of_region_revenue",
      (s, d) => {
        val rev = t(s, d, "orders")
          .join(broadcast(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_d"))
        val w = Window.partitionBy("r_name")
        rev.withColumn("region_d", sum("rev_d").over(w))
          .select(col("r_name"), col("n_name"),
            col("rev_d").cast("double").as("nation_rev"),
            (col("rev_d").cast("double") / col("region_d").cast("double"))
              .as("region_share"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH rev AS (
             |  SELECT r_name, n_name,
             |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY 1, 2),
             |t AS (SELECT r_name, n_name, rev_d,
             |        sum(rev_d) OVER (PARTITION BY r_name) AS region_d
             |      FROM rev)
             |SELECT r_name, n_name, CAST(rev_d AS DOUBLE) AS nation_rev,
             |  CAST(rev_d AS DOUBLE) / CAST(region_d AS DOUBLE) AS region_share
             |FROM t ORDER BY r_name, n_name""".stripMargin)),

    // Mergeable-sketch architecture: per-DAY HLL sketches of distinct
    // users, UNIONED up to per-type estimates — the incremental pattern a
    // 100 TB deployment runs (each day's partition is sketched once at
    // ingest; any date-range distinct count is a cheap sketch union, the
    // raw data is never re-scanned). approx_distinct_users checks the
    // one-shot estimator; this checks that the union of daily sketches
    // still lands within tolerance. Driver-checkable via the established
    // tolerance-boolean contract (exact values + a bound the oracle
    // asserts TRUE; lgConfigK=14 ⇒ ~0.8% rse, 10% is >10 sigma).
    QueryDef(
      "hll_mergeable_daily_union",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
        val merged = daily.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
            .as("merged_est"))
        val exact = t(s, d, "events")
          .groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_users"),
            count_distinct(to_date(col("ts"))).as("n_days"))
        exact.join(merged, "event_type")
          .select(col("event_type"), col("exact_users"), col("n_days"),
            (abs(col("merged_est") - col("exact_users")) <=
              col("exact_users").cast("double") * 0.10).as("union_within_10pct"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
             |  TRUE AS union_within_10pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // 1-Wasserstein (earth-mover) drift between the reference and
    // current value distributions — the INTEGRAL companion to
    // drift_ks_statistic's max: EMD₁ = ∫|F_ref − F_cur| dv, which
    // catches a broad small shift that KS's single point understates.
    // Exact integer arithmetic end-to-end: per distinct value, the CDF
    // cross-difference |cum_ref·tot_cur − cum_cur·tot_ref| (the KS
    // numerator) is weighted by the gap to the NEXT distinct value in
    // CENTS, summed through DECIMAL(38,0); one division at the end.
    // Scale shape: the same two-level decomposed rank as drift_ks
    // (bounded floor(value) bins, broadcast offsets, bin-partitioned
    // running sums), with the next-value gap computed by a
    // bin-partitioned lead plus a bounded per-bin boundary handoff —
    // no global window anywhere.
    QueryDef(
      "drift_emd_wasserstein",
      (s, d) => {
        val ev = t(s, d, "events").select(col("value"),
          when(expr("ts < TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1L)
            .otherwise(0L).as("is_ref"))
        val g = ev.groupBy("value").agg(
          sum(col("is_ref")).as("ref_cnt"),
          sum(lit(1L) - col("is_ref")).as("cur_cnt"))
          .withColumn("cents",
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
          .withColumn("bin", floor(col("value")).cast("long"))
        val binTot = g.groupBy("bin").agg(
          sum(col("ref_cnt")).as("bin_ref"), sum(col("cur_cnt")).as("bin_cur"),
          min(col("cents")).as("bin_min_cents"))
        val wBin = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = binTot
          .withColumn("base_ref", coalesce(sum(col("bin_ref")).over(wBin), lit(0L)))
          .withColumn("base_cur", coalesce(sum(col("bin_cur")).over(wBin), lit(0L)))
          .withColumn("next_bin_min",
            lead(col("bin_min_cents"), 1).over(Window.orderBy("bin")))
          .select("bin", "base_ref", "base_cur", "next_bin_min")
        val tot = g.groupBy().agg(
          sum(col("ref_cnt")).as("tot_ref"), sum(col("cur_cnt")).as("tot_cur"))
        val wIn = Window.partitionBy("bin").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wLead = Window.partitionBy("bin").orderBy("value")
        g.join(broadcast(offs), Seq("bin"))
          .withColumn("cum_ref", col("base_ref") + sum("ref_cnt").over(wIn))
          .withColumn("cum_cur", col("base_cur") + sum("cur_cnt").over(wIn))
          .withColumn("gap_cents",
            coalesce(lead(col("cents"), 1).over(wLead), col("next_bin_min"))
              - col("cents"))
          .filter(col("gap_cents").isNotNull)
          .join(broadcast(tot))
          // the cross-difference is cast to DECIMAL(38,0) BEFORE the
          // gap multiply: |cum·tot − cum·tot| approaches tot_ref·tot_cur
          // (~1e18 at 1e9 rows/side), so ×gap_cents overflows int64 under
          // ANSI at scale — same HUGEINT-guard class as the anti-entropy
          // digests (r9 ADVICE); DuckDB silently promotes, Spark must not
          .agg(sum(abs(col("cum_ref").cast(DecimalType(38, 0)) * col("tot_cur") -
              col("cum_cur").cast(DecimalType(38, 0)) * col("tot_ref")) *
              col("gap_cents")).as("emd_num_d"),
            max(col("tot_ref")).as("tot_ref"), max(col("tot_cur")).as("tot_cur"))
          .select(col("tot_ref"), col("tot_cur"),
            col("emd_num_d").cast("double").as("emd_num"),
            (col("emd_num_d").cast("double") /
              (col("tot_ref") * col("tot_cur")).cast("double") / lit(100.0))
              .as("emd_wasserstein"))
      },
      Some("""WITH ev AS (
             |  SELECT value,
             |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
             |  FROM events),
             |g AS (
             |  SELECT value, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS cents,
             |    CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
             |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
             |  FROM ev GROUP BY 1),
             |c AS (
             |  SELECT cents,
             |    CAST(sum(ref_cnt) OVER (ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_ref,
             |    CAST(sum(cur_cnt) OVER (ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_cur,
             |    LEAD(cents) OVER (ORDER BY value) - cents AS gap_cents,
             |    CAST(sum(ref_cnt) OVER () AS BIGINT) AS tot_ref,
             |    CAST(sum(cur_cnt) OVER () AS BIGINT) AS tot_cur
             |  FROM g)
             |SELECT max(tot_ref) AS tot_ref, max(tot_cur) AS tot_cur,
             |  CAST(sum(CAST(abs(cum_ref * tot_cur - cum_cur * tot_ref)
             |    * gap_cents AS DECIMAL(38,0))) AS DOUBLE) AS emd_num,
             |  CAST(sum(CAST(abs(cum_ref * tot_cur - cum_cur * tot_ref)
             |    * gap_cents AS DECIMAL(38,0))) AS DOUBLE)
             |    / CAST(max(tot_ref) * max(tot_cur) AS DOUBLE) / 100.0
             |    AS emd_wasserstein
             |FROM c WHERE gap_cents IS NOT NULL""".stripMargin)),

    // Sliding 7-day distinct users via MERGEABLE daily sketches — the
    // incremental architecture window_sliding_distinct's exact operator
    // gets replaced with at 100 TB: one HLL sketch per (type, day) is
    // built ONCE (the standing materialization a streaming maintainer
    // appends to), and every 7-day window is a UNION of 7 sketches —
    // new day arrives, 7 windows update, nothing rescans raw events.
    // The exact sliding count rides along; the contract boolean uses a
    // max(5%, 50) bar that sits far outside the ≤7-way lgK=14 union
    // error (the hll_mergeable_daily_union pattern, wide enough to be
    // hash-safe per the r8 ADVICE on near-margin booleans).
    QueryDef(
      "hll_sliding_window_distinct",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"),
            expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
              .as("dnum"),
            col("user_id"))
        val daily = ev.groupBy("event_type", "dnum")
          .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
        val est = daily
          .select(col("event_type"), col("sk"),
            explode(expr("sequence(dnum, dnum + 6)")).as("win_day"))
          .groupBy("event_type", "win_day")
          .agg(hll_sketch_estimate(
            hll_union_agg(col("sk"), allowDifferentLgConfigK = false)).as("est"))
        val exact = ev.select(col("event_type"), col("user_id"),
            explode(expr("sequence(dnum, dnum + 6)")).as("win_day"))
          .groupBy("event_type", "win_day")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        // the sketch estimate is NOT hash-pinned (r9 ADVICE: a marginal
        // (type, win_day) pair would degrade to an opaque oracle hash
        // mismatch) — the union-tolerance contract lives in
        // AnalyticsSketchSpec next to the intersection audit; the oracle
        // pins the exact leg, and the join against `est` still forces
        // the full sketch-union pipeline to execute per window
        exact.join(est, Seq("event_type", "win_day"))
          .select(col("event_type"), col("win_day"), col("n_exact"))
          .orderBy("event_type", "win_day")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
             |      AS dnum,
             |    user_id
             |  FROM events),
             |x AS (
             |  SELECT event_type, user_id, dnum + w AS win_day
             |  FROM ev CROSS JOIN (SELECT unnest(range(0, 7)) AS w) g)
             |SELECT event_type, win_day,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
             |FROM x GROUP BY 1, 2 ORDER BY event_type, win_day""".stripMargin)),

    // Month-over-month / year-over-year revenue growth — the BI read
    // every revenue dashboard leads with: monthly exact-decimal revenue,
    // then MoM and YoY percent changes via lag windows over the BOUNDED
    // month series (an aggregate of ~84 rows — the unpartitioned lags are
    // calendar-bounded, PlanAudit-clean). Growth ratios are the only
    // doubles, one division each from exact decimal sums.
    QueryDef(
      "revenue_mom_yoy_growth",
      (s, d) => {
        val monthly = t(s, d, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
        val w = Window.orderBy("month")
        monthly
          .withColumn("prev_m", lag(col("rev"), 1).over(w))
          .withColumn("prev_y", lag(col("rev"), 12).over(w))
          .select(col("month"), col("rev").cast("double").as("revenue"),
            ((col("rev") - col("prev_m")).cast("double") * 100.0 /
              col("prev_m").cast("double")).as("mom_pct"),
            ((col("rev") - col("prev_y")).cast("double") * 100.0 /
              col("prev_y").cast("double")).as("yoy_pct"))
          .orderBy("month")
      },
      Some("""WITH m AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders GROUP BY 1),
             |l AS (
             |  SELECT month, rev,
             |    LAG(rev, 1) OVER (ORDER BY month) AS prev_m,
             |    LAG(rev, 12) OVER (ORDER BY month) AS prev_y
             |  FROM m)
             |SELECT month, CAST(rev AS DOUBLE) AS revenue,
             |  CAST(rev - prev_m AS DOUBLE) * 100.0 / CAST(prev_m AS DOUBLE)
             |    AS mom_pct,
             |  CAST(rev - prev_y AS DOUBLE) * 100.0 / CAST(prev_y AS DOUBLE)
             |    AS yoy_pct
             |FROM l ORDER BY month""".stripMargin)),

    // Feature-hashing (hashing-trick) collision audit — the check a
    // feature pipeline runs before committing to a hashed feature space:
    // tokens hash into 1024 buckets (md5 → 52-bit int → mod), and the
    // audit reports occupied buckets, colliding buckets (≥ 2 distinct
    // tokens), the worst bucket load, and the occurrence mass landing in
    // colliding buckets — the quantities that decide whether 2^10
    // features suffice or the space must grow. Pure integer hashing and
    // counts; one vocabulary aggregate, one 1024-bounded rollup.
    QueryDef(
      "feature_hashing_collision_audit",
      (s, d) => {
        val tc = t(s, d, "documents")
          .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .withColumn("bucket",
            graft.functions.GraftFunctions
              .md5Prefix(concat(lit("fh:"), col("tok")), 13) % 1024)
        val buckets = tc.groupBy("bucket")
          .agg(countDistinct(col("tok")).as("n_toks"), sum(col("n")).as("occ"))
        buckets.agg(
          count(lit(1)).as("n_buckets_occupied"),
          sum(when(col("n_toks") >= 2, 1L).otherwise(0L)).as("n_colliding"),
          max(col("n_toks")).as("max_load"),
          sum(when(col("n_toks") >= 2, col("occ")).otherwise(0L))
            .as("occ_in_collisions"),
          sum(col("occ")).as("occ_total"))
          .withColumn("collision_mass_frac",
            col("occ_in_collisions").cast("double") / col("occ_total").cast("double"))
      },
      Some("""WITH tc AS (
             |  SELECT tok, CAST(count(*) AS BIGINT) AS n,
             |    CAST(('0x' || substr(md5('fh:' || tok), 1, 13)) AS BIGINT) % 1024
             |      AS bucket
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok),
             |b AS (
             |  SELECT bucket, CAST(count(DISTINCT tok) AS BIGINT) AS n_toks,
             |    CAST(sum(n) AS BIGINT) AS occ
             |  FROM tc GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_buckets_occupied,
             |  CAST(sum(CASE WHEN n_toks >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_colliding,
             |  CAST(max(n_toks) AS BIGINT) AS max_load,
             |  CAST(sum(CASE WHEN n_toks >= 2 THEN occ ELSE 0 END) AS BIGINT)
             |    AS occ_in_collisions,
             |  CAST(sum(occ) AS BIGINT) AS occ_total,
             |  CAST(sum(CASE WHEN n_toks >= 2 THEN occ ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(occ) AS DOUBLE) AS collision_mass_frac
             |FROM b""".stripMargin)),

    // KMV (K-Minimum-Values, Bar-Yossef et al. 2002) distinct sketch,
    // audited against the exact count: per event type, keep the k=64
    // smallest 60-bit md5 hashes of the user ids; the unbiased estimate
    // (k−1)·M/h_k (M = hash-space size, h_k = k-th minimum) is computed
    // with INTEGER division so both engines produce the identical
    // estimate — unlike HLL, the whole sketch state is portable
    // arithmetic, which is why KMV is the auditable baseline next to
    // hll_mergeable_daily_union's library sketches (and KMV sketches
    // merge by taking the k smallest of a union — same mergeability
    // contract). Types with < k distinct users report exactly. The rank
    // window is per-type (bounded by k after the WindowGroupLimit);
    // nothing global.
    QueryDef(
      "kmv_distinct_sketch",
      (s, d) => {
        val k = 64
        val tu = t(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .withColumn("h",
            // 13 hex chars = 52-bit space: (k−1)·M = 63·2^52 ≈ 2.8e17
            // stays inside BIGINT on BOTH engines (15 chars would push
            // the numerator past 2^63 — the HUGEINT-promotion trap)
            graft.functions.GraftFunctions.md5Prefix(
              concat(lit("kmv:"), col("user_id").cast("string")), 13))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("h")
        val ranked = tu.withColumn("rn", row_number().over(w))
        val exact = tu.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
        val kth = ranked.filter(col("rn") === k)
          .select(col("event_type"), col("h").as("h_k"))
        exact.join(kth, Seq("event_type"), "left_outer")
          .withColumn("kmv_est",
            when(col("h_k").isNotNull,
              expr(s"CAST(${k - 1} AS BIGINT) * 4503599627370496 div h_k"))
              .otherwise(col("n_exact")))
          .withColumn("rel_err_permille",
            expr("abs(kmv_est - n_exact) * 1000 div n_exact"))
          .select("event_type", "n_exact", "kmv_est", "rel_err_permille")
          .orderBy("event_type")
      },
      Some("""WITH tu AS (
             |  SELECT DISTINCT event_type, user_id FROM events),
             |h AS (
             |  SELECT event_type,
             |    CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13))
             |         AS BIGINT) AS h
             |  FROM tu),
             |r AS (
             |  SELECT event_type, h,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
             |  FROM h),
             |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
             |       FROM tu GROUP BY 1),
             |kth AS (SELECT event_type, h AS h_k FROM r WHERE rn = 64)
             |SELECT e.event_type, n_exact,
             |  CAST(COALESCE(63 * 4503599627370496 // h_k, n_exact) AS BIGINT)
             |    AS kmv_est,
             |  CAST(abs(COALESCE(63 * 4503599627370496 // h_k, n_exact) - n_exact)
             |    * 1000 // n_exact AS BIGINT) AS rel_err_permille
             |FROM ex e LEFT JOIN kth USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    // HLL intersection via inclusion-exclusion, audited: the audience-
    // overlap question ("how many users do BOTH x and y") answered from
    // three mergeable sketches — est(A)+est(B)−est(A∪B) — the only way
    // to intersect pre-aggregated per-segment sketches without
    // re-scanning raw data (sketches can union but never intersect
    // directly). The absolute error compounds across three lgK=14
    // estimates (~0.8% of each SET at 1σ), so the |err| ≤ max(5%·|A∪B|,
    // 20) contract sits near 3σ — too marginal to hash-pin: a benign
    // distribution shift could flip a pair and fail the whole query
    // (r8 ADVICE). The hash-matched output therefore carries only the
    // EXACT set algebra (both engines compute it independently); the
    // sketch-estimate tolerance is asserted in AnalyticsSketchSpec,
    // where a marginal pair degrades to a test failure with context
    // instead of an opaque oracle hash mismatch.
    QueryDef(
      "hll_intersection_audit",
      (s, d) => {
        val tu = t(s, d, "events")
          .select(col("event_type").as("et"), col("user_id")).distinct()
        val sk = tu.groupBy("et").agg(
          hll_sketch_agg(col("user_id"), 14).as("sk"),
          count(lit(1)).as("n_exact"))
        val pairs = sk
          .select(col("et").as("et_a"), col("sk").as("sk_a"), col("n_exact").as("n_a"))
          .crossJoin(broadcast(sk.select(col("et").as("et_b"), col("sk").as("sk_b"),
            col("n_exact").as("n_b"))))
          .filter(col("et_a") < col("et_b"))
        val inter = tu.select(col("et").as("et_a"), col("user_id"))
          .join(tu.select(col("et").as("et_b"), col("user_id")), "user_id")
          .filter(col("et_a") < col("et_b"))
          .groupBy("et_a", "et_b").agg(count(lit(1)).as("n_inter_exact"))
        pairs.join(inter, Seq("et_a", "et_b"), "left_outer")
          .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
          .withColumn("n_union_exact",
            col("n_a") + col("n_b") - col("n_inter_exact"))
          .select(col("et_a"), col("et_b"), col("n_a"), col("n_b"),
            col("n_inter_exact"), col("n_union_exact"))
          .orderBy("et_a", "et_b")
      },
      Some("""WITH tu AS (
             |  SELECT DISTINCT event_type AS et, user_id FROM events),
             |n AS (SELECT et, CAST(count(*) AS BIGINT) AS n_exact FROM tu GROUP BY 1),
             |inter AS (
             |  SELECT a.et AS et_a, b.et AS et_b, CAST(count(*) AS BIGINT) AS n_inter
             |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.et < b.et
             |  GROUP BY 1, 2)
             |SELECT na.et AS et_a, nb.et AS et_b,
             |  na.n_exact AS n_a, nb.n_exact AS n_b,
             |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter_exact,
             |  na.n_exact + nb.n_exact - CAST(coalesce(n_inter, 0) AS BIGINT)
             |    AS n_union_exact
             |FROM n na JOIN n nb ON na.et < nb.et
             |LEFT JOIN inter ON inter.et_a = na.et AND inter.et_b = nb.et
             |ORDER BY et_a, et_b""".stripMargin)),

    // Position-weighted multi-touch attribution: every view in the 7 days
    // before a purchase (same user) gets credit — 40% to the first touch,
    // 40% to the last, the middle 20% split evenly (1.0 / 0.5-0.5 for
    // 1-2 touch paths). The marketing read behind funnel analysis, kept
    // per-edge (no credit SUM — each row's credit is one exact division,
    // identical IEEE on both engines). Scale shape (r13 SkewStress): the
    // per-user equi-join is NOT "bounded by the attribution window" on
    // its own — Spark plans equi-key + range-as-residual, materializing
    // views(u)·purchases(u) rows per user BEFORE the time filter, which
    // is quadratic in one hot key's mass (a 30%-hot user turned the whole
    // query into a single 3.1 s task on a lake where it otherwise takes
    // 0.5 s). The day-binned range join (RangeJoin.pointInInterval with
    // the user as equi key) puts the time axis IN the join key: each
    // purchase's 7-day window explodes into 8-9 day bins, each view maps
    // to one bin, candidates shrink to per-(user, day) products, the
    // residual re-checks the exact micro-resolution predicate, and a hot
    // user's work spreads across its day bins' tasks. Rows out are
    // bit-identical; then one window pass per purchase for rank/count —
    // never a global sort.
    QueryDef(
      "multi_touch_attribution",
      (s, d) => {
        val ev = t(s, d, "events")
        val dayUs = 86400000000L
        // +1 µs on both bounds maps the original half-open interval
        // (p_ts − 7d, p_ts] onto pointInInterval's [start, end)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("au"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts"),
            (expr("unix_micros(CAST(ts AS TIMESTAMP))") - lit(7L * dayUs) + lit(1L))
              .as("w_start"),
            (expr("unix_micros(CAST(ts AS TIMESTAMP))") + lit(1L)).as("w_end"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("au"), col("event_id").as("view_id"),
            col("ts").as("v_ts"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("v_us"))
        val touches = RangeJoin.pointInInterval(views, purchases,
            "v_us", "w_start", "w_end", binWidth = dayUs, equiKeys = Seq("au"))
        val w = Window.partitionBy("purchase_id")
          .orderBy(col("v_ts"), col("view_id"))
        val cnt = Window.partitionBy("purchase_id")
        touches
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(cnt))
          .select(col("purchase_id"), col("view_id"),
            col("rk").cast("long").as("rk"), col("n"),
            when(col("n") === 1, lit(1.0))
              .when(col("n") === 2, lit(0.5))
              .when(col("rk") === 1 || col("rk") === col("n"), lit(0.4))
              .otherwise(lit(0.2) / (col("n") - 2).cast("double"))
              .as("credit"))
          .orderBy("purchase_id", "rk")
      },
      Some("""WITH touches AS (
             |  SELECT p.event_id AS purchase_id, v.event_id AS view_id, v.ts AS v_ts
             |  FROM events p JOIN events v
             |    ON p.user_id = v.user_id
             |   AND p.event_type = 'purchase' AND v.event_type = 'view'
             |   AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 7 DAY),
             |r AS (
             |  SELECT purchase_id, view_id,
             |    ROW_NUMBER() OVER (PARTITION BY purchase_id
             |                       ORDER BY v_ts, view_id) AS rk,
             |    CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n
             |  FROM touches)
             |SELECT purchase_id, view_id, rk, n,
             |  CASE WHEN n = 1 THEN 1.0
             |       WHEN n = 2 THEN 0.5
             |       WHEN rk = 1 OR rk = n THEN 0.4
             |       ELSE 0.2 / CAST(n - 2 AS DOUBLE) END AS credit
             |FROM r ORDER BY purchase_id, rk""".stripMargin),
      // r17: semantics baseline only (the dedup_containment precedent,
      // DedupQueries.scala) — the r16 skewed-10× sweep proved the ANSWER
      // is quadratic in hot-key mass (744,612,495 qualifying pairs for
      // one 30%-hot user, 239 s vs 2.3 s base with the work perfectly
      // spread), which no join algorithm fixes; the benched scale path
      // is multi_touch_last_n below (output O(purchases × 8)). Stays in
      // SkewStress.probes so the day-bin JOIN discipline — which is
      // correct and must not regress — remains graded at sf0.1, where
      // the answer-size term is small.
      bench = false),

    // CAPPED multi-touch attribution — U-shaped credit over the LAST 8
    // views inside each purchase's 7-day window. This is the 100 TB scale
    // path next to multi_touch_attribution, whose answer is ALL
    // qualifying (purchase, view) pairs and therefore inherently
    // QUADRATIC in a hot user's key mass: the r16 skewed-10×-lake sweep
    // measured it at 278 s vs a 2.2 s base — work spread fine (straggler
    // 1.5×, 34% max-task share; the day-bin discipline held), but the
    // ANSWER was 744,612,495 rows for the one 30%-hot user
    // (bench/skew10x_r16.json). No join algorithm fixes an output that
    // big; production attribution caps the touchpoints per conversion
    // (the standard U-shaped / position-based model attributes over the
    // last N touches). Capping changes the algorithm class:
    //
    //  - Views get a per-user SEQUENCE NUMBER (one per-key ordered scan).
    //  - Each purchase finds vmax = seq of the last view at-or-before it,
    //    and vprev = view count at the window's open edge — two
    //    window_funnel_depth-style ordered scans (PLANS.md r13: phrase
    //    "nearest preceding" as max(vseq) over the incremental
    //    (unboundedPreceding, -1) frame, strictness in the sort key:
    //    same-instant views sort BEFORE the purchase anchor for the
    //    inclusive <=, AFTER the shifted anchor for the strict >).
    //  - The kept range [max(vprev+1, vmax-7), vmax] is ≤8 wide; explode
    //    it and equi-join back on (user, seq) — every key matches exactly
    //    one view, so the join is OUTPUT-proportional: O(purchases × 8)
    //    rows total, per-user cost linear in key mass (the ordered scans
    //    sort, never pair). rk and n fall out arithmetically — no second
    //    window over pairs anywhere.
    //
    // Proven on the r16 skewed-10× sweep next to the uncapped form:
    // 3.3 s at a 26% max-task share in the same window where uncapped
    // reads 278 s.
    QueryDef(
      "multi_touch_last_n",
      (s, d) => {
        val ev = t(s, d, "events")
        val dayUs = 86400000000L
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("au"), col("event_id").as("view_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("v_us"))
        val wSeq = Window.partitionBy("au").orderBy(col("v_us"), col("view_id"))
        val vseq = views.withColumn("vseq", row_number().over(wSeq))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("au"), col("event_id").as("purchase_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP))").as("p_us"))
        // scan 1: vmax — views sort before a same-instant purchase
        // (kind 0 < 1), so the (unboundedPreceding, -1) frame realizes
        // the INCLUSIVE v_ts <= p_ts in the sort key
        val sA = vseq.select(col("au"), col("v_us").as("ts_us"),
            lit(0).as("kind"), col("vseq"),
            lit(null).cast("long").as("purchase_id"))
          .unionByName(purchases.select(col("au"), col("p_us").as("ts_us"),
            lit(1).as("kind"), lit(null).cast("int").as("vseq"),
            col("purchase_id")))
        // max(vseq) over the incremental frame, NOT last(..., ignoreNulls):
        // vseq is monotone in the frame's own sort order, so the in-frame
        // max IS the intended "last at-or-before" sequence — and unlike
        // last(), it is independent of how same-timestamp views happen to
        // be ordered within the window sort (last() only worked because
        // the upstream row_number sort survived as stable-sort input
        // order; AQE/retries can break that — ADVICE r16).
        val wScan = Window.partitionBy("au").orderBy(col("ts_us"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val vmaxDf = sA
          .withColumn("vmax", max(col("vseq")).over(wScan))
          .filter(col("kind") === 1)
          .select(col("au"), col("purchase_id"), col("vmax"))
        // scan 2: vprev — the shifted anchor (p_ts − 7d, +1 µs for the
        // STRICT >) sorts before same-instant views (kind 0 < 1), so the
        // frame counts exactly the views outside the window
        val sB = vseq.select(col("au"), col("v_us").as("ts_us"),
            lit(1).as("kind"), col("vseq"),
            lit(null).cast("long").as("purchase_id"))
          .unionByName(purchases.select(col("au"),
            (col("p_us") - lit(7L * dayUs) + lit(1L)).as("ts_us"),
            lit(0).as("kind"), lit(null).cast("int").as("vseq"),
            col("purchase_id")))
        val vprevDf = sB
          .withColumn("vp", max(col("vseq")).over(wScan))
          .filter(col("kind") === 0)
          .select(col("purchase_id").as("pid2"),
            coalesce(col("vp"), lit(0)).as("vprev"))
        val ranges = vmaxDf
          .join(vprevDf, col("purchase_id") === col("pid2"))
          .filter(col("vmax").isNotNull && col("vmax") > col("vprev"))
          .select(col("au"), col("purchase_id"),
            greatest(col("vprev") + 1, col("vmax") - 7).as("lo"),
            col("vmax").as("hi"))
        ranges
          .select(col("au"), col("purchase_id"), col("lo"), col("hi"),
            explode(sequence(col("lo"), col("hi"))).as("vseq"))
          .join(vseq.select(col("au"), col("vseq"), col("view_id")),
            Seq("au", "vseq"))
          .withColumn("rk", (col("vseq") - col("lo") + 1).cast("long"))
          .withColumn("n", (col("hi") - col("lo") + 1).cast("long"))
          .select(col("purchase_id"), col("view_id"), col("rk"), col("n"),
            when(col("n") === 1, lit(1.0))
              .when(col("n") === 2, lit(0.5))
              .when(col("rk") === 1 || col("rk") === col("n"), lit(0.4))
              .otherwise(lit(0.2) / (col("n") - 2).cast("double"))
              .as("credit"))
          .orderBy("purchase_id", "rk")
      },
      Some("""WITH touches AS (
             |  SELECT p.event_id AS purchase_id, v.event_id AS view_id, v.ts AS v_ts,
             |    ROW_NUMBER() OVER (PARTITION BY p.event_id
             |                       ORDER BY v.ts DESC, v.event_id DESC) AS rd
             |  FROM events p JOIN events v
             |    ON p.user_id = v.user_id
             |   AND p.event_type = 'purchase' AND v.event_type = 'view'
             |   AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 7 DAY),
             |kept AS (SELECT purchase_id, view_id, v_ts FROM touches WHERE rd <= 8),
             |r AS (
             |  SELECT purchase_id, view_id,
             |    ROW_NUMBER() OVER (PARTITION BY purchase_id
             |                       ORDER BY v_ts, view_id) AS rk,
             |    CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n
             |  FROM kept)
             |SELECT purchase_id, view_id, rk, n,
             |  CASE WHEN n = 1 THEN 1.0
             |       WHEN n = 2 THEN 0.5
             |       WHEN rk = 1 OR rk = n THEN 0.4
             |       ELSE 0.2 / CAST(n - 2 AS DOUBLE) END AS credit
             |FROM r ORDER BY purchase_id, rk""".stripMargin)),

    // Time-INTERVAL range frame: each order sees its customer's trailing
    // 7-day revenue — the event-time sliding window expressed as a WINDOW
    // FRAME (RANGE BETWEEN INTERVAL ... PRECEDING), not a self-join. The
    // numeric range frame is window_range_frame; this covers the temporal
    // frame surface, which peers rows by TIME DISTANCE, handles ties by
    // frame (not by ROWS), and is the shape backfills use for trailing
    // metrics. Exact decimal sum inside the frame, one double cast out;
    // partitioned by customer — per-key state only.
    QueryDef(
      "window_interval_range_sum",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_w7")
        s.sql("""SELECT o_custkey, o_orderkey, o_orderdate,
                |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                |    PARTITION BY o_custkey ORDER BY o_orderdate
                |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                |    AS DOUBLE) AS trailing_7d
                |FROM orders_w7
                |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate
             |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
             |    AS DOUBLE) AS trailing_7d
             |FROM orders
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov statistic between the reference and
    // current `value` distributions (same ref/current split as
    // drift_tvd_bins) — the binning-free companion to TVD: KS catches a
    // location/shape shift that happens to preserve bin masses. EXACT
    // integer arithmetic: the CDF difference at observed point v is
    // |cumref·totcur − cumcur·totref| / (totref·totcur), so the argmax is
    // taken over integer numerators and the single division happens once
    // in the one-row output. Scale shape (r9 rewrite, the
    // eval_auc_ranksum decomposition): the running CDF counts are
    // two-level decomposed ranks — coarse `floor(value)` bins (bounded by
    // the value DOMAIN) carry broadcast running offsets from the only
    // unpartitioned window (per-bin totals), and the per-value running
    // sums are PARTITIONED by bin; grand totals come from a broadcast
    // 1-row aggregate, not a Window.partitionBy(lit(1)) single task.
    QueryDef(
      "drift_ks_statistic",
      (s, d) => {
        val ev = t(s, d, "events").select(col("value"),
          when(expr("ts < TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1L)
            .otherwise(0L).as("is_ref"))
        val g = ev.groupBy("value").agg(
          sum(col("is_ref")).as("ref_cnt"),
          sum(lit(1L) - col("is_ref")).as("cur_cnt"))
          .withColumn("bin", floor(col("value")).cast("long"))
        val binTot = g.groupBy("bin").agg(
          sum(col("ref_cnt")).as("bin_ref"), sum(col("cur_cnt")).as("bin_cur"))
        val wBin = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = binTot
          .withColumn("base_ref", coalesce(sum(col("bin_ref")).over(wBin), lit(0L)))
          .withColumn("base_cur", coalesce(sum(col("bin_cur")).over(wBin), lit(0L)))
          .select("bin", "base_ref", "base_cur")
        val tot = g.groupBy().agg(
          sum(col("ref_cnt")).as("tot_ref"), sum(col("cur_cnt")).as("tot_cur"))
        val wIn = Window.partitionBy("bin").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.join(broadcast(offs), Seq("bin"))
          .withColumn("cum_ref", col("base_ref") + sum("ref_cnt").over(wIn))
          .withColumn("cum_cur", col("base_cur") + sum("cur_cnt").over(wIn))
          .join(broadcast(tot))
          .withColumn("ks_num",
            abs(col("cum_ref") * col("tot_cur") - col("cum_cur") * col("tot_ref")))
          .orderBy(col("ks_num").desc, col("value"))
          .limit(1)
          .select(col("value").as("ks_at_value"), col("ks_num"),
            col("tot_ref"), col("tot_cur"),
            (col("ks_num").cast("double") /
              (col("tot_ref") * col("tot_cur")).cast("double")).as("ks"))
      },
      Some("""WITH ev AS (
             |  SELECT value,
             |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
             |  FROM events),
             |g AS (
             |  SELECT value, CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
             |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
             |  FROM ev GROUP BY 1),
             |c AS (
             |  SELECT value,
             |    CAST(sum(ref_cnt) OVER (ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ref,
             |    CAST(sum(cur_cnt) OVER (ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cur,
             |    CAST(sum(ref_cnt) OVER () AS BIGINT) AS tot_ref,
             |    CAST(sum(cur_cnt) OVER () AS BIGINT) AS tot_cur
             |  FROM g)
             |SELECT value AS ks_at_value,
             |  abs(cum_ref * tot_cur - cum_cur * tot_ref) AS ks_num,
             |  tot_ref, tot_cur,
             |  CAST(abs(cum_ref * tot_cur - cum_cur * tot_ref) AS DOUBLE)
             |    / CAST(tot_ref * tot_cur AS DOUBLE) AS ks
             |FROM c ORDER BY ks_num DESC, ks_at_value LIMIT 1""".stripMargin)),

    // Population Stability Index over the same fixed-width bins as
    // drift_tvd_bins — the scorecard-monitoring drift metric (PSI > 0.2
    // = investigate). Laplace-smoothed (+1 per observed bin, +10 on each
    // total) so a bin empty on ONE side stays finite and deterministic;
    // only observed bins emit rows. Integer counts to the end; the PSI
    // term is emitted QUANTIZED to nano-units (round(term·1e9) as
    // BIGINT, the doc_unigram_surprisal pattern) because ln is not
    // correctly rounded and the last double bit differs between the JDK
    // and libm. One groupBy + a 10-row broadcast total — nothing global
    // at any scale.
    QueryDef(
      "drift_psi_bins",
      (s, d) => {
        val ev = t(s, d, "events").select(
          least(floor(col("value") / lit(50.0)), lit(9L)).cast("long").as("bin"),
          when(expr("ts < TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1L)
            .otherwise(0L).as("is_ref"))
        val g = ev.groupBy("bin").agg(
          sum(col("is_ref")).as("ref_cnt"),
          sum(lit(1L) - col("is_ref")).as("cur_cnt"))
        val wAll = Window.partitionBy(lit(1))
        val pr = (col("ref_cnt") + 1L).cast("double") /
          (col("tot_ref") + 10L).cast("double")
        val pc = (col("cur_cnt") + 1L).cast("double") /
          (col("tot_cur") + 10L).cast("double")
        g.withColumn("tot_ref", sum("ref_cnt").over(wAll))
          .withColumn("tot_cur", sum("cur_cnt").over(wAll))
          .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
            round((pc - pr) * log(pc / pr) * lit(1e9)).cast("long")
              .as("psi_term_nano"))
          .orderBy("bin")
      },
      Some("""WITH ev AS (
             |  SELECT CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bin,
             |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
             |  FROM events),
             |g AS (
             |  SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
             |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
             |  FROM ev GROUP BY 1),
             |tt AS (
             |  SELECT bin, ref_cnt, cur_cnt,
             |    CAST(sum(ref_cnt) OVER () AS BIGINT) AS tot_ref,
             |    CAST(sum(cur_cnt) OVER () AS BIGINT) AS tot_cur
             |  FROM g)
             |SELECT bin, ref_cnt, cur_cnt,
             |  CAST(round((CAST(cur_cnt + 1 AS DOUBLE) / CAST(tot_cur + 10 AS DOUBLE)
             |   - CAST(ref_cnt + 1 AS DOUBLE) / CAST(tot_ref + 10 AS DOUBLE))
             |  * ln((CAST(cur_cnt + 1 AS DOUBLE) / CAST(tot_cur + 10 AS DOUBLE))
             |       / (CAST(ref_cnt + 1 AS DOUBLE) / CAST(tot_ref + 10 AS DOUBLE)))
             |  * 1e9) AS BIGINT) AS psi_term_nano
             |FROM tt ORDER BY bin""".stripMargin)),

    // Degree assortativity (Newman 2002) of the co-purchase graph: the
    // Pearson correlation of endpoint degrees over edges — one scalar
    // that says whether hub parts co-occur with other hubs (r > 0) or
    // with niche parts (r < 0). Uses the same merge-hinted distinct-items
    // edge build as copurchase_pairs/kcore (no broadcast cliff at scale).
    // EXACT integer moment sums (degrees and their squares sum in
    // BIGINT), one double division at the end:
    //   r = (4·M·Sjk − Ssum²) / (2·M·Ssq − Ssum²).
    QueryDef(
      "graph_degree_assortativity",
      (s, d) => {
        val edges = sharedCopurchaseEdges(s, d)
        val deg = edges.select(col("a").as("node"))
          .unionByName(edges.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val withDeg = edges
          .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
          .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
        withDeg.agg(
            count(lit(1)).as("m_edges"),
            sum(col("da") * col("db")).as("s_jk"),
            sum(col("da") + col("db")).as("s_sum"),
            sum(col("da") * col("da") + col("db") * col("db")).as("s_sq"))
          .select(col("m_edges"), col("s_jk"), col("s_sum"), col("s_sq"),
            ((lit(4L) * col("m_edges") * col("s_jk") - col("s_sum") * col("s_sum"))
              .cast("double") /
             (lit(2L) * col("m_edges") * col("s_sq") - col("s_sum") * col("s_sum"))
              .cast("double")).as("assortativity"))
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM items x JOIN items y ON x.l_orderkey = y.l_orderkey
             |  WHERE x.l_partkey < y.l_partkey),
             |deg AS (
             |  SELECT node, count(*) AS deg FROM (
             |    SELECT a AS node FROM edges
             |    UNION ALL SELECT b AS node FROM edges)
             |  GROUP BY node),
             |wd AS (
             |  SELECT da.deg AS dda, db.deg AS ddb
             |  FROM edges e JOIN deg da ON da.node = e.a
             |               JOIN deg db ON db.node = e.b),
             |mom AS (
             |  SELECT count(*) AS m_edges,
             |    CAST(sum(dda * ddb) AS BIGINT) AS s_jk,
             |    CAST(sum(dda + ddb) AS BIGINT) AS s_sum,
             |    CAST(sum(dda * dda + ddb * ddb) AS BIGINT) AS s_sq
             |  FROM wd)
             |SELECT m_edges, s_jk, s_sum, s_sq,
             |  CAST(4 * m_edges * s_jk - s_sum * s_sum AS DOUBLE)
             |    / CAST(2 * m_edges * s_sq - s_sum * s_sum AS DOUBLE) AS assortativity
             |FROM mom""".stripMargin)),

    // Lag-k autocorrelation of the daily event volume (k = 1..3) — the
    // time-series health card behind seasonality/anomaly detection: a
    // weekly-periodic ingest shows r(7) >> r(1); a drifting pipeline
    // decays slowly. The series is DENSIFIED onto the full calendar
    // between first and last day (silent days become x = 0) before the
    // lag pairing — over active days only, lead(x, 1) would pair
    // Friday with Monday across a gap and "lag 1" would mix 1- and
    // 3-day distances. The ACF is algebraically expanded so every
    // moment (Σx, Σx², Σx·x₊ₖ and the truncated edge sums) is an EXACT
    // BIGINT — the usual Σ(x−μ)(x₊ₖ−μ) form would sum doubles in
    // partition order, which is nondeterministic; here the only doubles
    // are four fixed-order ops on exact integers per output row. The
    // lead window is ordered by day — bounded by the DATE DOMAIN, not
    // the row count, so the unpartitioned window never outgrows a task
    // at any scale.
    QueryDef(
      "acf_daily_events",
      (s, d) => {
        val counts = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val cal = counts.agg(min("day").as("d0"), max("day").as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val daily = cal.join(counts, Seq("day"), "left_outer")
          .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
        val w = Window.orderBy("day")
        val led = daily.select(col("x"),
          lead("x", 1).over(w).as("l1"),
          lead("x", 2).over(w).as("l2"),
          lead("x", 3).over(w).as("l3"))
        val m = led.agg(
          count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("ss"),
          sum(col("x") * col("l1")).as("p1"),
          sum(when(col("l1").isNotNull, col("x"))).as("a1"), sum("l1").as("b1"),
          sum(col("x") * col("l2")).as("p2"),
          sum(when(col("l2").isNotNull, col("x"))).as("a2"), sum("l2").as("b2"),
          sum(col("x") * col("l3")).as("p3"),
          sum(when(col("l3").isNotNull, col("x"))).as("a3"), sum("l3").as("b3"))
        val mu = col("s").cast("double") / col("n").cast("double")
        m.select(col("n"), col("s"), col("ss"),
            expr("stack(3, 1L, p1, a1, b1, 2L, p2, a2, b2, 3L, p3, a3, b3) " +
              "AS (lag, p, a, b)"))
          .select(col("lag"), col("n").as("n_days"),
            ((col("p").cast("double") - mu * (col("a") + col("b")).cast("double") +
              (col("n") - col("lag")).cast("double") * mu * mu) /
             (col("ss").cast("double") - col("s").cast("double") * mu)).as("acf"))
          .orderBy("lag")
      },
      Some("""WITH counts AS (
             |  SELECT CAST(ts AS DATE) AS day, count(*) AS x
             |  FROM events GROUP BY 1),
             |cal AS (
             |  SELECT CAST(unnest(generate_series(
             |    (SELECT min(day) FROM counts),
             |    (SELECT max(day) FROM counts), INTERVAL 1 DAY)) AS DATE) AS day),
             |daily AS (
             |  SELECT cal.day, coalesce(counts.x, 0) AS x
             |  FROM cal LEFT JOIN counts ON counts.day = cal.day),
             |l AS (
             |  SELECT x,
             |    lead(x, 1) OVER (ORDER BY day) AS l1,
             |    lead(x, 2) OVER (ORDER BY day) AS l2,
             |    lead(x, 3) OVER (ORDER BY day) AS l3
             |  FROM daily),
             |m AS (
             |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
             |    CAST(sum(x * x) AS BIGINT) AS ss,
             |    CAST(sum(x * l1) AS BIGINT) AS p1,
             |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END) AS BIGINT) AS a1,
             |    CAST(sum(l1) AS BIGINT) AS b1,
             |    CAST(sum(x * l2) AS BIGINT) AS p2,
             |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END) AS BIGINT) AS a2,
             |    CAST(sum(l2) AS BIGINT) AS b2,
             |    CAST(sum(x * l3) AS BIGINT) AS p3,
             |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN x END) AS BIGINT) AS a3,
             |    CAST(sum(l3) AS BIGINT) AS b3
             |  FROM l),
             |u AS (
             |  SELECT n, s, ss, CAST(1 AS BIGINT) AS lag, p1 AS p, a1 AS a, b1 AS b FROM m
             |  UNION ALL SELECT n, s, ss, 2, p2, a2, b2 FROM m
             |  UNION ALL SELECT n, s, ss, 3, p3, a3, b3 FROM m)
             |SELECT lag, n AS n_days,
             |  (CAST(p AS DOUBLE)
             |   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(a + b AS DOUBLE)
             |   + CAST(n - lag AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |  / (CAST(ss AS DOUBLE)
             |     - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS acf
             |FROM u ORDER BY lag""".stripMargin)),

    // AR(2) model fit via Yule-Walker (Box-Jenkins) on the densified
    // daily event volume — the forecasting step above acf_daily_events:
    // solve the 2×2 Toeplitz system [1 r1; r1 1]·[φ1 φ2]ᵀ = [r1 r2]ᵀ in
    // closed form (φ1 = r1(1−r2)/(1−r1²), φ2 = (r2−r1²)/(1−r1²)) and
    // report the innovation-variance ratio 1 − φ1·r1 − φ2·r2 (how much
    // of the day-to-day variance the AR(2) explains). Same exactness
    // discipline as the ACF: every moment (Σx, Σx², Σx·x₊ₖ, truncated
    // edge sums) is one map-side-combinable EXACT-BIGINT aggregate over
    // the date-domain-bounded series; r1/r2/φ/σ² are a FIXED sequence of
    // double ops on those integers, written identically in both engines
    // (IEEE ops are not reassociated by either optimizer, so the bits
    // match). One calendar scan, one 1-row aggregate — nothing here is
    // corpus-proportional beyond the daily count.
    QueryDef(
      "ar2_yulewalker_fit",
      (s, d) => {
        val counts = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val cal = counts.agg(min("day").as("d0"), max("day").as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val daily = cal.join(counts, Seq("day"), "left_outer")
          .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
        val w = Window.orderBy("day")
        val led = daily.select(col("x"),
          lead("x", 1).over(w).as("l1"),
          lead("x", 2).over(w).as("l2"))
        val m = led.agg(
          count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("ss"),
          sum(col("x") * col("l1")).as("p1"),
          sum(when(col("l1").isNotNull, col("x"))).as("a1"), sum("l1").as("b1"),
          sum(col("x") * col("l2")).as("p2"),
          sum(when(col("l2").isNotNull, col("x"))).as("a2"), sum("l2").as("b2"))
        val mu = col("s").cast("double") / col("n").cast("double")
        val den0 = col("ss").cast("double") - col("s").cast("double") * mu
        def r(k: Int) =
          (col(s"p$k").cast("double") -
            mu * (col(s"a$k") + col(s"b$k")).cast("double") +
            (col("n") - lit(k.toLong)).cast("double") * mu * mu) / den0
        m.select(col("n").as("n_days"),
            r(1).as("r1"), r(2).as("r2"))
          .select(col("n_days"), col("r1"), col("r2"),
            (col("r1") * (lit(1.0) - col("r2")) /
              (lit(1.0) - col("r1") * col("r1"))).as("phi1"),
            ((col("r2") - col("r1") * col("r1")) /
              (lit(1.0) - col("r1") * col("r1"))).as("phi2"))
          .select(col("n_days"), col("r1"), col("r2"), col("phi1"), col("phi2"),
            (lit(1.0) - col("phi1") * col("r1") - col("phi2") * col("r2"))
              .as("innov_var_ratio"))
      },
      Some("""WITH counts AS (
             |  SELECT CAST(ts AS DATE) AS day, count(*) AS x
             |  FROM events GROUP BY 1),
             |cal AS (
             |  SELECT CAST(unnest(generate_series(
             |    (SELECT min(day) FROM counts),
             |    (SELECT max(day) FROM counts), INTERVAL 1 DAY)) AS DATE) AS day),
             |daily AS (
             |  SELECT cal.day, coalesce(counts.x, 0) AS x
             |  FROM cal LEFT JOIN counts ON counts.day = cal.day),
             |l AS (
             |  SELECT x,
             |    lead(x, 1) OVER (ORDER BY day) AS l1,
             |    lead(x, 2) OVER (ORDER BY day) AS l2
             |  FROM daily),
             |m AS (
             |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
             |    CAST(sum(x * x) AS BIGINT) AS ss,
             |    CAST(sum(x * l1) AS BIGINT) AS p1,
             |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END) AS BIGINT) AS a1,
             |    CAST(sum(l1) AS BIGINT) AS b1,
             |    CAST(sum(x * l2) AS BIGINT) AS p2,
             |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END) AS BIGINT) AS a2,
             |    CAST(sum(l2) AS BIGINT) AS b2
             |  FROM l),
             |r AS (
             |  SELECT n AS n_days,
             |    (CAST(p1 AS DOUBLE)
             |     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(a1 + b1 AS DOUBLE)
             |     + CAST(n - 1 AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |    / (CAST(ss AS DOUBLE)
             |       - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |      AS r1,
             |    (CAST(p2 AS DOUBLE)
             |     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(a2 + b2 AS DOUBLE)
             |     + CAST(n - 2 AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |    / (CAST(ss AS DOUBLE)
             |       - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |      AS r2
             |  FROM m),
             |p AS (
             |  SELECT n_days, r1, r2,
             |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
             |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
             |  FROM r)
             |SELECT n_days, r1, r2, phi1, phi2,
             |  1.0 - phi1 * r1 - phi2 * r2 AS innov_var_ratio
             |FROM p""".stripMargin)),

    // AR(2) in-sample residual backtest — the diagnostic card on top of
    // ar2_yulewalker_fit: one-step-ahead forecasts
    // x̂_t = μ + φ1·(x_{t-1}−μ) + φ2·(x_{t-2}−μ) over the densified daily
    // series, with MAE and RMSE of the residuals. The fit's doubles
    // (μ, φ1, φ2) are the SAME fixed op sequence as the fit query, so
    // both engines forecast bit-identically; each day's residual then
    // quantizes to integer MILLIS before the error sums (the surprisal
    // discipline — |e| and e² accumulate as exact BIGINTs in any
    // partition order; e²_milli ≤ 10¹² per day keeps the sum ≪ 2^63).
    // Scale shape: the daily aggregate is the only corpus-proportional
    // stage; the window, fit moments, and error sums all live on the
    // DATE-domain-bounded series.
    QueryDef(
      "ar2_residual_backtest",
      (s, d) => {
        val counts = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val cal = counts.agg(min("day").as("d0"), max("day").as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val daily = cal.join(counts, Seq("day"), "left_outer")
          .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
        val w = Window.orderBy("day")
        val led = daily.select(col("day"), col("x"),
          lead("x", 1).over(w).as("l1"),
          lead("x", 2).over(w).as("l2"))
        val m = led.agg(
          count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("ss"),
          sum(col("x") * col("l1")).as("p1"),
          sum(when(col("l1").isNotNull, col("x"))).as("a1"), sum("l1").as("b1"),
          sum(col("x") * col("l2")).as("p2"),
          sum(when(col("l2").isNotNull, col("x"))).as("a2"), sum("l2").as("b2"))
          .localCheckpoint(true) // 1 row; the forecast leg broadcasts it
        val mu = col("s").cast("double") / col("n").cast("double")
        val den0 = col("ss").cast("double") - col("s").cast("double") * mu
        def r(k: Int) =
          (col(s"p$k").cast("double") -
            mu * (col(s"a$k") + col(s"b$k")).cast("double") +
            (col("n") - lit(k.toLong)).cast("double") * mu * mu) / den0
        val lagged = daily.select(col("x"),
          lag("x", 1).over(w).as("g1"),
          lag("x", 2).over(w).as("g2"))
          .filter(col("g1").isNotNull && col("g2").isNotNull)
        lagged.crossJoin(broadcast(m))
          .withColumn("r1", r(1)).withColumn("r2", r(2))
          .withColumn("phi1", col("r1") * (lit(1.0) - col("r2")) /
            (lit(1.0) - col("r1") * col("r1")))
          .withColumn("phi2", (col("r2") - col("r1") * col("r1")) /
            (lit(1.0) - col("r1") * col("r1")))
          .withColumn("e_milli",
            round(lit(1000.0) * (col("x").cast("double") - (mu +
              col("phi1") * (col("g1").cast("double") - mu) +
              col("phi2") * (col("g2").cast("double") - mu)))).cast("long"))
          .agg(count(lit(1)).as("n_forecast_days"),
            sum(abs(col("e_milli"))).as("sum_abs_e_millis"),
            sum(col("e_milli") * col("e_milli")).as("sum_sq_e"))
          .select(col("n_forecast_days"), col("sum_abs_e_millis"),
            (col("sum_abs_e_millis").cast("double") /
              col("n_forecast_days").cast("double")).as("mae_millis"),
            sqrt(col("sum_sq_e").cast("double") /
              col("n_forecast_days").cast("double")).as("rmse_millis"))
      },
      Some("""WITH counts AS (
             |  SELECT CAST(ts AS DATE) AS day, count(*) AS x
             |  FROM events GROUP BY 1),
             |cal AS (
             |  SELECT CAST(unnest(generate_series(
             |    (SELECT min(day) FROM counts),
             |    (SELECT max(day) FROM counts), INTERVAL 1 DAY)) AS DATE) AS day),
             |daily AS (
             |  SELECT cal.day, coalesce(counts.x, 0) AS x
             |  FROM cal LEFT JOIN counts ON counts.day = cal.day),
             |l AS (
             |  SELECT x,
             |    lead(x, 1) OVER (ORDER BY day) AS l1,
             |    lead(x, 2) OVER (ORDER BY day) AS l2
             |  FROM daily),
             |m AS (
             |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
             |    CAST(sum(x * x) AS BIGINT) AS ss,
             |    CAST(sum(x * l1) AS BIGINT) AS p1,
             |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END) AS BIGINT) AS a1,
             |    CAST(sum(l1) AS BIGINT) AS b1,
             |    CAST(sum(x * l2) AS BIGINT) AS p2,
             |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END) AS BIGINT) AS a2,
             |    CAST(sum(l2) AS BIGINT) AS b2
             |  FROM l),
             |r AS (
             |  SELECT n,
             |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             |    (CAST(p1 AS DOUBLE)
             |     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(a1 + b1 AS DOUBLE)
             |     + CAST(n - 1 AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |    / (CAST(ss AS DOUBLE)
             |       - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |      AS r1,
             |    (CAST(p2 AS DOUBLE)
             |     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(a2 + b2 AS DOUBLE)
             |     + CAST(n - 2 AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |    / (CAST(ss AS DOUBLE)
             |       - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |      AS r2
             |  FROM m),
             |p AS (
             |  SELECT mu,
             |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
             |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
             |  FROM r),
             |lagged AS (
             |  SELECT x,
             |    lag(x, 1) OVER (ORDER BY day) AS g1,
             |    lag(x, 2) OVER (ORDER BY day) AS g2
             |  FROM daily),
             |err AS (
             |  SELECT CAST(round(1000.0 * (CAST(x AS DOUBLE) - (mu
             |    + phi1 * (CAST(g1 AS DOUBLE) - mu)
             |    + phi2 * (CAST(g2 AS DOUBLE) - mu)))) AS BIGINT) AS e_milli
             |  FROM lagged CROSS JOIN p
             |  WHERE g1 IS NOT NULL AND g2 IS NOT NULL),
             |agg AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_forecast_days,
             |    CAST(sum(abs(e_milli)) AS BIGINT) AS sum_abs_e_millis,
             |    CAST(sum(e_milli * e_milli) AS BIGINT) AS sum_sq_e
             |  FROM err)
             |SELECT n_forecast_days, sum_abs_e_millis,
             |  CAST(sum_abs_e_millis AS DOUBLE) / CAST(n_forecast_days AS DOUBLE)
             |    AS mae_millis,
             |  sqrt(CAST(sum_sq_e AS DOUBLE) / CAST(n_forecast_days AS DOUBLE))
             |    AS rmse_millis
             |FROM agg""".stripMargin)),

    // Approximate functional-dependency profiler (the g₃ error of
    // Kivinen & Mannila 1995): for each declared X→Y pair, the minimum
    // number of rows to delete before the FD holds — Σ_x (|group x| −
    // max-y-count in x) — and the resulting confidence. This is the
    // schema-discovery/data-quality primitive behind "can this column
    // be normalized out" and "did an upstream join fan out": an exact
    // key dependency reads 1.0, a drifting dimension reads below it.
    // Each pair is two stacked map-side-combinable aggregates
    // (groupBy(x,y) → groupBy(x) with sum+max → one row); nothing
    // shuffles more than the distinct (x,y) pairs, and all four legs
    // union into one result. Exact integers up to the one division.
    QueryDef(
      "fd_profile_audit",
      (s, d) => {
        def leg(df: org.apache.spark.sql.DataFrame, table: String,
                lhs: String, rhs: String) =
          df.groupBy(col(lhs).as("x"), col(rhs).as("y"))
            .agg(count(lit(1)).as("c"))
            .groupBy("x").agg(sum("c").as("n"), max("c").as("mx"))
            .agg(sum(col("n")).as("n_rows"),
              count(lit(1)).as("n_lhs_groups"),
              sum(col("n") - col("mx")).as("n_violations"))
            .select(lit(s"$table: $lhs -> $rhs").as("fd"),
              col("n_rows"), col("n_lhs_groups"), col("n_violations"),
              ((col("n_rows") - col("n_violations")).cast("double") /
                col("n_rows").cast("double")).as("confidence"))
        leg(t(s, d, "orders"), "orders", "o_orderkey", "o_orderstatus")
          .unionAll(leg(t(s, d, "orders"), "orders", "o_custkey", "o_orderpriority"))
          .unionAll(leg(t(s, d, "customer"), "customer", "c_nationkey", "c_mktsegment"))
          .unionAll(leg(t(s, d, "part"), "part", "p_brand", "p_type"))
          .orderBy("fd")
      },
      Some {
        def legSql(table: String, lhs: String, rhs: String) =
          s"""SELECT '$table: $lhs -> $rhs' AS fd,
             |  CAST(sum(n) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_lhs_groups,
             |  CAST(sum(n - mx) AS BIGINT) AS n_violations,
             |  CAST(sum(n) - sum(n - mx) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
             |    AS confidence
             |FROM (
             |  SELECT x, CAST(sum(c) AS BIGINT) AS n, CAST(max(c) AS BIGINT) AS mx
             |  FROM (SELECT $lhs AS x, $rhs AS y, count(*) AS c
             |        FROM $table GROUP BY 1, 2)
             |  GROUP BY x)""".stripMargin
        s"""${legSql("orders", "o_orderkey", "o_orderstatus")}
           |UNION ALL
           |${legSql("orders", "o_custkey", "o_orderpriority")}
           |UNION ALL
           |${legSql("customer", "c_nationkey", "c_mktsegment")}
           |UNION ALL
           |${legSql("part", "p_brand", "p_type")}
           |ORDER BY fd""".stripMargin
      }),

    // Salt-factor planner — the PRESCRIPTIVE companion to
    // key_skew_profile's descriptive histogram and skew_salted_join's
    // mechanism: for every join key hotter than the 2×-mean bar (the
    // bar is pipeline config — this synthetic lake is near-uniform, so
    // an aggressive bar keeps the planner exercised; production corpora
    // move it to 10-100×), the integer salt fan-out ⌈count/(2·mean)⌉
    // that caps any salted sub-key at the target partition load. This is the config a
    // pipeline materializes BEFORE the big join (per-key salt maps
    // broadcast to both sides); emitting it as a query makes the skew
    // response auditable and re-derivable per run instead of
    // hand-tuned. All integer arithmetic (mean and fan-outs are exact
    // div/ceil); one count aggregate + a broadcast 1-row summary,
    // top-20 hot keys via TakeOrdered.
    QueryDef(
      "salt_factor_planner",
      (s, d) => {
        val counts = t(s, d, "lineitem").groupBy("l_orderkey")
          .agg(count(lit(1)).as("c"))
        val summ = counts.agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"))
          .select(col("n_keys"), col("n_rows"),
            expr("n_rows div n_keys").as("mean_rows"))
        counts.crossJoin(broadcast(summ))
          .filter(col("c") > col("mean_rows") * 2)
          .select(col("l_orderkey"), col("c").as("n_rows_key"),
            expr("(c + 2 * mean_rows - 1) div (2 * mean_rows)").as("salt_factor"),
            col("n_keys"), col("mean_rows"))
          .orderBy(col("n_rows_key").desc, col("l_orderkey"))
          .limit(20)
      },
      Some("""WITH counts AS (
             |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1),
             |summ AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(sum(c) AS BIGINT) AS n_rows,
             |    CAST(sum(c) // count(*) AS BIGINT) AS mean_rows
             |  FROM counts)
             |SELECT l_orderkey, c AS n_rows_key,
             |  CAST((c + 2 * mean_rows - 1) // (2 * mean_rows) AS BIGINT) AS salt_factor,
             |  n_keys, mean_rows
             |FROM counts CROSS JOIN summ
             |WHERE c > mean_rows * 2
             |ORDER BY n_rows_key DESC, l_orderkey LIMIT 20""".stripMargin)),

    // Windowed ordered funnel (the ClickHouse windowFunnel shape): per
    // user, the deepest strictly-ordered signup → view → purchase chain
    // COMPLETED WITHIN 7 DAYS of the signup — the conversion definition
    // marketing actually uses (funnel_signup_purchase counts ever-
    // ordered pairs; the window bound is what distinguishes a campaign
    // conversion from a coincidence months later). Plan shape (r13
    // SkewStress): each step wants only the FIRST qualifying successor
    // per anchor, so ANY join formulation is the wrong algorithm — a
    // per-user equi-join materializes signups(u)·views(u) pairs before
    // its arg-min (96 s under a 30% hot user), and even the day-binned
    // range join only divides that quadratic by the bins the events
    // span. The production shape is ClickHouse's own: one per-user
    // ORDERED SCAN — union the anchor and successor rows, sort ts
    // DESCENDING within user, and take last(successor, ignoreNulls)
    // over the incremental (unboundedPreceding, -1) ROWS frame — the
    // closest strictly-later successor, O(n log n) per key, zero pair
    // materialization, so a hot user costs one sort instead of a
    // quadratic blowup. (The frame choice is load-bearing: the
    // ascending twin needs (1, unboundedFollowing), which Spark
    // re-scans per row — O(n²) per partition; the descending running
    // frame is incremental.) Tie discipline: at equal ts the anchor
    // sorts BEFORE its successors in the descending order (k
    // descending), excluding same-instant successors exactly like the
    // strict v_ts > s_ts predicate; among equal-ts successors the
    // event_id-descending order makes last() pick the smallest id —
    // min(struct(ts, id)) semantics, bit-identical to the join form
    // and to the oracle. Output: users per maximum funnel depth.
    QueryDef(
      "window_funnel_depth",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        // leg 1: first view strictly after each signup
        val sv = ev.filter(col("event_type").isin("signup", "view"))
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "view", 0).otherwise(1).as("k"))
        val w1 = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("k").desc, col("event_id").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val s2 = sv
          .withColumn("nv", last(
            when(col("k") === 0, struct(col("ts").as("v_ts"), col("event_id").as("v_id"))),
            ignoreNulls = true).over(w1))
          .filter(col("k") === 1 && col("nv").isNotNull &&
            col("nv.v_ts") <= col("ts") + expr("INTERVAL 7 DAYS"))
          .select(col("user_id"), col("ts").as("s_ts"), col("event_id").as("s_id"),
            col("nv.v_ts").as("v_ts"))
        // leg 2: first purchase strictly after each chain's view, still
        // inside the signup's 7-day window (anchor sits at v_ts; k=1
        // keeps same-instant purchases out of the preceding frame)
        val anchors = s2.select(col("user_id"), col("v_ts").as("ts"),
          col("s_ts"), col("s_id"), lit(1).as("k"),
          lit(null).cast("timestamp_ntz").as("pt"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            lit(null).cast("timestamp_ntz").as("s_ts"),
            lit(null).cast("long").as("s_id"), lit(0).as("k"),
            col("ts").as("pt"))
        val w2 = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("k").desc, col("pt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val s3 = anchors.unionByName(pu)
          .withColumn("np", last(col("pt"), ignoreNulls = true).over(w2))
          .filter(col("k") === 1 && col("np").isNotNull &&
            col("np") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
          .select(col("user_id"), col("s_ts"), col("s_id"), col("np").as("p_ts"))
        val u1 = sv.filter(col("k") === 1)
          .groupBy("user_id").agg(count(lit(1)).as("n1"))
        val u2 = s2.groupBy("user_id").agg(count(lit(1)).as("n2"))
        val u3 = s3.groupBy("user_id").agg(count(lit(1)).as("n3"))
        u1.join(u2, Seq("user_id"), "left_outer")
          .join(u3, Seq("user_id"), "left_outer")
          .select(col("user_id"),
            when(col("n3").isNotNull, 3L)
              .when(col("n2").isNotNull, 2L).otherwise(1L).as("funnel_depth"))
          .groupBy("funnel_depth").agg(count(lit(1)).as("n_users"))
          .orderBy("funnel_depth")
      },
      Some("""WITH su AS (
             |  SELECT user_id, ts AS s_ts, event_id AS s_id
             |  FROM events WHERE event_type = 'signup'),
             |vw AS (
             |  SELECT user_id, ts AS v_ts, event_id AS v_id
             |  FROM events WHERE event_type = 'view'),
             |pu AS (SELECT user_id, ts AS p_ts FROM events
             |       WHERE event_type = 'purchase'),
             |s2 AS (
             |  SELECT user_id, s_ts, s_id, v_ts FROM (
             |    SELECT user_id, s_ts, s_id, v_ts,
             |      ROW_NUMBER() OVER (PARTITION BY user_id, s_ts, s_id
             |        ORDER BY v_ts, v_id) AS rn
             |    FROM su JOIN vw USING (user_id)
             |    WHERE v_ts > s_ts AND v_ts <= s_ts + INTERVAL 7 DAY)
             |  WHERE rn = 1),
             |s3 AS (
             |  SELECT s2.user_id, s_ts, s_id, min(p_ts) AS p_ts
             |  FROM s2 JOIN pu ON s2.user_id = pu.user_id
             |  WHERE p_ts > v_ts AND p_ts <= s_ts + INTERVAL 7 DAY
             |  GROUP BY 1, 2, 3),
             |u1 AS (SELECT user_id FROM su GROUP BY 1),
             |u2 AS (SELECT user_id FROM s2 GROUP BY 1),
             |u3 AS (SELECT user_id FROM s3 GROUP BY 1),
             |depth AS (
             |  SELECT u1.user_id,
             |    CAST(CASE WHEN u3.user_id IS NOT NULL THEN 3
             |      WHEN u2.user_id IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
             |      AS funnel_depth
             |  FROM u1 LEFT JOIN u2 ON u1.user_id = u2.user_id
             |          LEFT JOIN u3 ON u1.user_id = u3.user_id)
             |SELECT funnel_depth, count(*) AS n_users
             |FROM depth GROUP BY 1 ORDER BY funnel_depth""".stripMargin)),

    // One Borůvka round toward the MAXIMUM spanning forest of the
    // weighted co-purchase graph (weight = co-order count — the
    // strongest-ties backbone used for taxonomy induction and
    // hierarchical clustering seeds): every node nominates its
    // heaviest incident edge under the total order (−w, a, b), mutual
    // nominations dedup, and the surviving forest merges components —
    // the per-round primitive that iterates to Borůvka's O(log n)
    // rounds (same round-contract family as kcore_peel_round /
    // pagerank_one_step / label_propagation_round). The deterministic
    // tie-break makes the nomination set cycle-free beyond mutual
    // pairs, so components_after = n − |selected| exactly. Shape: one
    // argmin-struct aggregate over the incidence list (map-side
    // combinable, no window), a distinct, and two 1-row counts.
    QueryDef(
      "boruvka_msf_round",
      (s, d) => {
        // incidence/select/count consume ew 4 ways — shared weighted
        // fixture (the co-purchase self-join with order-count weights)
        val ew = sharedFixture(s, s"copurchase_weighted:$d") {
          val items = copurchaseItems(s, d)
          items.select(col("l_orderkey"), col("l_partkey").as("a"))
            .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
              "l_orderkey")
            .filter(col("a") < col("b"))
            .groupBy("a", "b").agg(count(lit(1)).as("w"))
            .localCheckpoint(true)
        }
        val inc = ew.select(col("a").as("node"), col("a"), col("b"), col("w"))
          .unionAll(ew.select(col("b").as("node"), col("a"), col("b"), col("w")))
        val sel = inc.groupBy("node")
          .agg(min(struct((-col("w")).as("nw"), col("a").as("a"),
            col("b").as("b"))).as("m"))
          .select(col("m.a").as("a"), col("m.b").as("b"), (-col("m.nw")).as("w"))
          .distinct()
        val nn = inc.agg(countDistinct(col("node")).as("n_nodes"))
        sel
          .withColumn("n_selected",
            count(lit(1)).over(Window.partitionBy(lit(1))))
          .crossJoin(broadcast(nn))
          .select(col("a"), col("b"), col("w"), col("n_nodes"), col("n_selected"),
            (col("n_nodes") - col("n_selected")).as("n_components_after"))
          .orderBy("a", "b")
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |ew AS (
             |  SELECT a.l_partkey AS a, b.l_partkey AS b, CAST(count(*) AS BIGINT) AS w
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2),
             |inc AS (SELECT a AS node, a, b, w FROM ew
             |        UNION ALL SELECT b AS node, a, b, w FROM ew),
             |sel AS (
             |  SELECT DISTINCT a, b, w FROM (
             |    SELECT a, b, w,
             |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY w DESC, a, b) AS rn
             |    FROM inc) WHERE rn = 1),
             |nn AS (SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes FROM inc),
             |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_selected FROM sel)
             |SELECT a, b, w, n_nodes, n_selected,
             |  n_nodes - n_selected AS n_components_after
             |FROM sel CROSS JOIN nn CROSS JOIN ns
             |ORDER BY a, b""".stripMargin)),

    // Cross-source quantile normalization of document length — the
    // batch-effect correction that maps each source's length
    // distribution onto the pooled corpus distribution (microarray
    // quantile normalization, Bolstad et al. 2003): a doc at the p-th
    // percentile WITHIN its source is assigned the value at the p-th
    // percentile of the GLOBAL multiset, so per-source length screens
    // become comparable before mixing. Entirely integer-exact: the
    // within-source position maps to a global index by
    // g = (a·(N−1)) div b (never a float percentile), and the global
    // value lookup is a range probe into the VALUE HISTOGRAM — the
    // ordered window runs over distinct char-lengths (bounded domain),
    // never the corpus, and broadcasts; per-source rank windows are
    // the only corpus shuffles.
    QueryDef(
      "quantile_normalize_sources",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val ranked = docs
          .withColumn("a",
            row_number().over(Window.partitionBy("source")
              .orderBy("n_chars", "doc_id")) - 1)
          .withColumn("b",
            count(lit(1)).over(Window.partitionBy("source")) - 1)
        val hist = docs.groupBy(col("n_chars").as("chars_bin"))
          .agg(count(lit(1)).as("m"))
          .withColumn("cum_prev",
            coalesce(sum("m").over(Window.orderBy("chars_bin")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("chars_bin").as("norm_chars"), col("m"), col("cum_prev"))
        val ng = docs.agg(count(lit(1)).as("ng"))
        ranked.crossJoin(broadcast(ng))
          .withColumn("g",
            when(col("b") > 0, expr("a * (ng - 1) div b")).otherwise(lit(0L)))
          .join(broadcast(hist),
            col("g") >= col("cum_prev") && col("g") < col("cum_prev") + col("m"))
          .select(col("doc_id"), col("source"), col("n_chars"), col("norm_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH ranked AS (
             |  SELECT doc_id, source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS a,
             |    count(*) OVER (PARTITION BY source) - 1 AS b
             |  FROM documents),
             |hist AS (
             |  SELECT n_chars AS norm_chars, CAST(count(*) AS BIGINT) AS m,
             |    CAST(coalesce(sum(count(*)) OVER (ORDER BY n_chars
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS cum_prev
             |  FROM documents GROUP BY n_chars),
             |ngt AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM documents),
             |gi AS (
             |  SELECT doc_id, source, n_chars,
             |    CAST(CASE WHEN b > 0 THEN (a * (ng - 1)) // b ELSE 0 END AS BIGINT) AS g
             |  FROM ranked CROSS JOIN ngt)
             |SELECT doc_id, source, n_chars, norm_chars
             |FROM gi JOIN hist ON gi.g >= cum_prev AND gi.g < cum_prev + m
             |ORDER BY doc_id""".stripMargin)))
}
