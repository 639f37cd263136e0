package graft.operators

import graft.QueryDef
import graft.QueryDef.t
import graft.cdc.Scd2

import org.apache.spark.sql.functions._

/** The reference's CDC/SCD2 semantics (SURVEY.md §2.2/§2.5/§2.7) expressed
  * over the driver's `events` change log (event_id = LSN analogue, user_id =
  * entity key, ts = source timestamp) so the DuckDB oracle can check them.
  * The envelope-level NDJSON path is exercised by the ScalaTest suite on
  * synthetic Debezium fixtures (FIXTURES.md §1); the window/ordering/sentinel
  * algebra checked here is identical (`Scd2.versionize` is the same code
  * path).
  */
object CdcQueries {

  private val sentinelSql = "TIMESTAMP '9999-01-01 00:00:00'"

  val defs: Seq[QueryDef] = Seq(

    // W1 + W2 + P7: the SCD2 history algorithm (transform_scd2.py:41-58).
    QueryDef(
      "scd2_history",
      (s, d) => Scd2.versionize(t(s, d, "events"), "user_id", "event_id", "ts")
        .select("user_id", "event_id", "event_type", "value",
                "version_num", "valid_from", "valid_to"),
      Some(s"""SELECT user_id, event_id, event_type, value,
              |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS version_num,
              |  ts AS valid_from,
              |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY event_id), $sentinelSql) AS valid_to
              |FROM events""".stripMargin)),

    // Current-state view: last change per key (serving layer, SURVEY.md §3 E3).
    QueryDef(
      "scd2_current",
      (s, d) => Scd2.latestByKey(t(s, d, "events"), "user_id", "event_id")
        .select("user_id", "event_id", "event_type", "value", "ts"),
      Some("""SELECT user_id, event_id, event_type, value, ts
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
             |      FROM events) WHERE rn = 1""".stripMargin)),

    // P6 CASE WHEN op mapping + P7 COALESCE + P8 CAST + P3 IS NOT NULL
    // (transform_scd2.py:29-35 op-code mapping shape).
    QueryDef(
      "cdc_op_mapping",
      (s, d) => t(s, d, "events")
        .filter(col("event_type").isNotNull)
        .select(
          col("event_id"),
          when(col("event_type") === "signup", "CREATE")
            .when(col("event_type") === "purchase", "UPDATE")
            .when(col("event_type") === "click", "UPDATE")
            .when(col("event_type") === "error", "DELETE")
            .otherwise("INVALID").as("operation_type"),
          coalesce(col("value"), lit(0.0)).as("value_filled"),
          col("user_id").cast("int").as("user_id_int")),
      Some("""SELECT event_id,
             |  CASE event_type WHEN 'signup' THEN 'CREATE' WHEN 'purchase' THEN 'UPDATE'
             |       WHEN 'click' THEN 'UPDATE' WHEN 'error' THEN 'DELETE'
             |       ELSE 'INVALID' END AS operation_type,
             |  COALESCE(value, 0.0) AS value_filled,
             |  CAST(user_id AS INT) AS user_id_int
             |FROM events WHERE event_type IS NOT NULL""".stripMargin)),

    // P9 JSON path extraction (json_extract ↔ get_json_object, quirk P14
    // normalized: both sides cast the scalar, so quoting differences vanish).
    QueryDef(
      "cdc_json_extract",
      (s, d) => t(s, d, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
             |FROM events""".stripMargin)),

    // Point-in-time (time-travel) read of the SCD2 history: the state of
    // every entity AS OF a wall-clock instant is the version whose
    // validity interval covers it — the query a consumer of the
    // reference's products_scd2 table runs to reconstruct "the table as
    // it was on the 15th" (SURVEY.md §1.4; the interval algebra is
    // transform_scd2.py:47-58's). One window shuffle, then a filter that
    // keeps exactly one row per key present before T.
    QueryDef(
      "scd2_asof_snapshot",
      (s, d) => {
        val at = lit("2024-01-15 12:00:00").cast("timestamp_ntz")
        Scd2.versionize(t(s, d, "events"), "user_id", "event_id", "ts")
          .filter(col("valid_from") <= at && col("valid_to") > at)
          .select("user_id", "event_id", "event_type", "value",
                  "valid_from", "valid_to")
      },
      Some(s"""WITH v AS (
              |  SELECT user_id, event_id, event_type, value,
              |    ts AS valid_from,
              |    COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY event_id),
              |             $sentinelSql) AS valid_to
              |  FROM events)
              |SELECT user_id, event_id, event_type, value, valid_from, valid_to
              |FROM v
              |WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
              |  AND valid_to   >  TIMESTAMP '2024-01-15 12:00:00'""".stripMargin)),

    // Snapshot diff audit: what changed between two points in time. The
    // state at each instant is an argmax aggregate (max_by over events at
    // or before T) — ONE shuffle computes both snapshots side by side via
    // FILTER clauses, instead of two window passes + a self-join. The
    // classification CASE is the audit report a CDC consumer reconciles
    // replicas with (appeared / changed / unchanged — this change log has
    // no deletes; a delete would surface as t2-side NULL).
    QueryDef(
      "scd2_snapshot_diff",
      (s, d) => {
        val t1 = "2024-01-15 12:00:00"
        val t2 = "2024-01-25 12:00:00"
        t(s, d, "events")
          .groupBy("user_id")
          .agg(
            expr(s"max_by(event_id, event_id) FILTER (WHERE ts <= TIMESTAMP '$t1')").as("event_id_t1"),
            expr(s"max_by(value, event_id)    FILTER (WHERE ts <= TIMESTAMP '$t1')").as("value_t1"),
            expr(s"max_by(event_id, event_id) FILTER (WHERE ts <= TIMESTAMP '$t2')").as("event_id_t2"),
            expr(s"max_by(value, event_id)    FILTER (WHERE ts <= TIMESTAMP '$t2')").as("value_t2"))
          .select(col("user_id"), col("event_id_t1"), col("value_t1"),
            col("event_id_t2"), col("value_t2"),
            when(col("event_id_t1").isNull && col("event_id_t2").isNotNull, "appeared")
              .when(col("event_id_t1") === col("event_id_t2"), "unchanged")
              .otherwise("changed").as("change_kind"))
      },
      Some("""SELECT user_id,
             |  arg_max(event_id, event_id) FILTER (ts <= TIMESTAMP '2024-01-15 12:00:00') AS event_id_t1,
             |  arg_max(value, event_id)    FILTER (ts <= TIMESTAMP '2024-01-15 12:00:00') AS value_t1,
             |  arg_max(event_id, event_id) FILTER (ts <= TIMESTAMP '2024-01-25 12:00:00') AS event_id_t2,
             |  arg_max(value, event_id)    FILTER (ts <= TIMESTAMP '2024-01-25 12:00:00') AS value_t2,
             |  CASE WHEN arg_max(event_id, event_id) FILTER (ts <= TIMESTAMP '2024-01-15 12:00:00') IS NULL
             |        AND arg_max(event_id, event_id) FILTER (ts <= TIMESTAMP '2024-01-25 12:00:00') IS NOT NULL
             |       THEN 'appeared'
             |       WHEN arg_max(event_id, event_id) FILTER (ts <= TIMESTAMP '2024-01-15 12:00:00')
             |          = arg_max(event_id, event_id) FILTER (ts <= TIMESTAMP '2024-01-25 12:00:00')
             |       THEN 'unchanged'
             |       ELSE 'changed' END AS change_kind
             |FROM events GROUP BY user_id""".stripMargin)),

    // CDC log compaction (net changes): collapse each key's intra-day
    // churn to the LAST change of that day — the "net effect" a
    // downstream consumer applies when replaying at day granularity
    // (Kafka log-compaction semantics, windowed). An argmax aggregate:
    // map-side combine ships one candidate per (key, day) per partition,
    // one shuffle total; n_collapsed reports the churn removed.
    QueryDef(
      "cdc_net_changes",
      (s, d) => t(s, d, "events")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(
          max_by(struct(col("event_id"), col("event_type"), col("value")),
                 col("event_id")).as("last"),
          count(lit(1)).as("n_collapsed"))
        .select(col("user_id"), col("day"),
          col("last.event_id").as("event_id"),
          col("last.event_type").as("event_type"),
          col("last.value").as("value"),
          col("n_collapsed")),
      Some("""SELECT user_id, CAST(ts AS DATE) AS day,
             |  arg_max(event_id, event_id) AS event_id,
             |  arg_max(event_type, event_id) AS event_type,
             |  arg_max(value, event_id) AS value,
             |  count(*) AS n_collapsed
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // MERGE INTO semantics on vanilla parquet (the S11 generalization:
    // SURVEY §2.1 documents MERGE as the Delta-only alternative to
    // read-modify-overwrite — this is the read-modify half as one
    // declarative plan). The change set is the CDC net change per key
    // (argmax, as cdc_net_changes); the merge is a single full-outer
    // join: matched+delete drops the row, matched+update rewrites the
    // balance, unmatched change inserts, untouched base rows persist.
    // All three MERGE branches are exercised (the +1400 key shift makes
    // the change set straddle the base key range). One shuffle per side.
    QueryDef(
      "merge_into_upsert",
      (s, d) => {
        val base = t(s, d, "customer")
          .select(col("c_custkey").as("key"), col("c_acctbal").as("balance"))
        val changes = t(s, d, "events")
          .groupBy((col("user_id") + 1400L).as("key"))
          .agg(max_by(struct(col("event_type"), col("value")), col("event_id")).as("c"))
          .select(col("key"),
            when(col("c.event_type") === "error", "D").otherwise("U").as("op"),
            col("c.value").as("new_balance"))
        base.join(changes, Seq("key"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("key"),
            coalesce(col("new_balance"), col("balance")).as("balance"),
            when(col("op").isNull, "kept")
              .when(col("balance").isNull, "inserted")
              .otherwise("updated").as("merge_action"))
      },
      Some("""WITH changes AS (
             |  SELECT user_id + 1400 AS key,
             |    CASE WHEN arg_max(event_type, event_id) = 'error'
             |         THEN 'D' ELSE 'U' END AS op,
             |    arg_max(value, event_id) AS new_balance
             |  FROM events GROUP BY 1),
             |base AS (SELECT c_custkey AS key, c_acctbal AS balance FROM customer)
             |SELECT key,
             |  COALESCE(new_balance, balance) AS balance,
             |  CASE WHEN op IS NULL THEN 'kept'
             |       WHEN balance IS NULL THEN 'inserted'
             |       ELSE 'updated' END AS merge_action
             |FROM base FULL OUTER JOIN changes USING (key)
             |WHERE op IS NULL OR op != 'D'""".stripMargin)),

    // P10/P13 epoch-ms → timestamp with the reference's ts_ms/1000 shape
    // (transform_scd2.py:37), floored to whole seconds for engine-exactness.
    // Both sides stay timezone-free: Spark emits TIMESTAMP_NTZ (cast under
    // the UTC session), the oracle uses make_timestamp (naive) rather than
    // to_timestamp (which would yield TIMESTAMPTZ and depend on the
    // driver's session zone).
    QueryDef(
      "cdc_epoch_roundtrip",
      (s, d) => t(s, d, "events")
        .select(
          col("event_id"),
          expr("CAST(timestamp_seconds(CAST(floor(unix_millis(CAST(ts AS TIMESTAMP)) / 1000) AS BIGINT)) AS TIMESTAMP_NTZ)")
            .as("ts_sec")),
      Some("""SELECT event_id,
             |  make_timestamp(CAST(floor(epoch_ms(ts) / 1000) AS BIGINT) * 1000000) AS ts_sec
             |FROM events""".stripMargin)),

    // Incremental view maintenance: keep a per-group aggregate (entity
    // count + balance sum, grouped by each entity's CURRENT event_type)
    // up to date from a CDC delta WITHOUT rescanning the base. The split
    // point T0 (two-thirds of the log, by LSN) plays the checkpoint: the
    // base aggregate summarizes state as of T0; each delta event then
    // contributes +its new image and −the image it replaces, where the
    // replaced image is the key's previous chain entry — the state0 seed
    // row for the key's FIRST delta event (an O(|delta-keys|) lookup
    // join, the whole point of IVM), or the preceding delta event (a LAG
    // within the delta's own window). The oracle is the naive full
    // recompute over the entire log: equality proves the retraction
    // algebra, not just the arithmetic. At 100 TB the base aggregate and
    // state0 are the standing materialization; per-batch cost is
    // O(|delta| + |touched keys|), never O(|base|). Sums ride the decimal
    // cast (applied per row BEFORE ±, so retractions cancel insertions
    // exactly) and surface as DOUBLE per repo convention.
    QueryDef(
      "ivm_delta_agg",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")
        val ev = t(s, d, "events")
        val t0 = broadcast(ev.agg(expr("max(event_id) * 2 div 3").as("t0")))
        val evT = ev.join(t0)
        // event_id is the unique LSN, so the three argmaxes pick one
        // consistent row. The string/decimal payloads force the argmax to
        // SortAggregate (non-primitive buffers can't hash-aggregate), but
        // this sits on the ONE-TIME checkpoint materialization — in a
        // standing deployment state0/baseAgg persist and only the delta
        // path below (seed lookup join + delta-only window) runs per batch.
        val state0 = evT.filter(col("event_id") <= col("t0"))
          .groupBy("user_id")
          .agg(max(col("event_id")).as("event_id"),
            max_by(col("event_type"), col("event_id")).as("event_type"),
            max_by(col("value").cast(DecimalType(18, 2)), col("event_id")).as("value"))
        val baseAgg = state0.groupBy(col("event_type").as("grp"))
          .agg(count(lit(1)).as("bn"), sum(col("value")).as("bsum"))
        val delta = evT.filter(col("event_id") > col("t0"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value").cast(DecimalType(18, 2)).as("value"))
        val seeds = state0.join(delta.select("user_id").distinct(), Seq("user_id"))
          .withColumn("is_seed", lit(true))
        val contrib = delta.withColumn("is_seed", lit(false))
          .unionByName(seeds)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .filter(!col("is_seed"))
        val deltaAgg = contrib
          .select(col("event_type").as("grp"), lit(1L).as("dn"), col("value").as("dv"))
          .unionByName(contrib.filter(col("prev_type").isNotNull)
            .select(col("prev_type").as("grp"), lit(-1L).as("dn"),
              (-col("prev_value")).as("dv")))
          .groupBy("grp").agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dsum"))
        baseAgg.join(deltaAgg, Seq("grp"), "full_outer")
          .select(col("grp").as("event_type"),
            (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_entities"),
            (coalesce(col("bsum"), lit(0).cast(DecimalType(28, 2))) +
              coalesce(col("dsum"), lit(0).cast(DecimalType(28, 2))))
              .cast("double").as("sum_balance"))
          .filter(col("n_entities") > 0)
          .orderBy("event_type")
      },
      Some("""WITH cur AS (
             |  SELECT user_id,
             |    arg_max(event_type, event_id) AS event_type,
             |    arg_max(CAST(value AS DECIMAL(18,2)), event_id) AS value
             |  FROM events GROUP BY user_id)
             |SELECT event_type,
             |  CAST(count(*) AS BIGINT) AS n_entities,
             |  CAST(sum(value) AS DOUBLE) AS sum_balance
             |FROM cur GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Incremental maintenance of a JOIN view — the delta-join algebra
    // ivm_delta_agg's single-table retraction doesn't cover:
    // Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, maintained here for the
    // revenue-per-priority view over orders⋈lineitem. The checkpoint
    // splits each table INDEPENDENTLY (orders by orderkey range, line
    // items by a row hash — so late line items arrive for existing
    // orders and new orders bring their own lines, exercising all three
    // delta terms). Per-batch cost is O(|Δ| · fanout): the two mixed
    // terms probe the STANDING side by join key (bucketed/indexed at
    // 100 TB — the bucketed_join_colocated layout), never rescanning
    // A₀⋈B₀; the base view is the O(1)-per-group standing aggregate.
    // The oracle recomputes the full join from scratch — equality
    // proves the delta algebra, not just the arithmetic.
    QueryDef(
      "ivm_delta_join",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        val li = t(s, d, "lineitem").select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4)).as("rev"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        val t0 = broadcast(ord.agg(expr("max(o_orderkey) * 2 div 3").as("t0")))
        val ordT = ord.join(t0)
        val ordBase = ordT.filter(col("o_orderkey") <= col("t0")).drop("t0")
        val ordDelta = ordT.filter(col("o_orderkey") > col("t0")).drop("t0")
        val liH = li.withColumn("h", PipelineQueries.hashPermille(
          concat(col("l_orderkey"), lit("#"), col("l_partkey"), lit("#"),
            col("l_suppkey"), lit("#"), col("l_quantity")), "ivmj"))
        val liBase = liH.filter(col("h") >= 300000L)
        val liDelta = liH.filter(col("h") < 300000L)
        def agg(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
          o.join(l, col("o_orderkey") === col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"), sum(col("rev")).as("rv"))
        val base = agg(ordBase, liBase)
        val d1 = agg(ordDelta, liBase)
        val d2 = agg(ordBase, liDelta)
        val d3 = agg(ordDelta, liDelta)
        val deltas = d1.unionByName(d2).unionByName(d3)
          .groupBy("o_orderpriority")
          .agg(sum(col("n")).as("dn"), sum(col("rv")).as("drv"))
        base.join(deltas, Seq("o_orderpriority"), "full_outer")
          .select(col("o_orderpriority"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_items"),
            (coalesce(col("rv"), lit(0).cast(DecimalType(28, 4))) +
              coalesce(col("drv"), lit(0).cast(DecimalType(28, 4))))
              .cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
             |       AS DOUBLE) AS revenue
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Daily snapshot densification from the interval history — the BI
    // serving pattern that turns an SCD2 table into a day-grid time
    // series ("how many entities were on which version each day")
    // WITHOUT a version-explosion scan per day: the calendar grid joins
    // the validity intervals through the binned range join
    // (RangeJoin.pointInInterval — shuffled equi join on week bins,
    // never a nested loop), with the open sentinel CLAMPED to the grid
    // end before binning so the 9999 sentinel doesn't explode the bin
    // sequence. Per day: active entities, entities still on version 1,
    // and the max version — each an exact integer.
    QueryDef(
      "scd2_daily_snapshot_grid",
      (s, d) => {
        val ev = t(s, d, "events")
        val hist = Scd2.versionize(ev, "user_id", "event_id", "ts")
          .select(col("user_id"), col("version_num"),
            expr("unix_micros(CAST(valid_from AS TIMESTAMP))").as("from_us"),
            expr("unix_micros(CAST(valid_to AS TIMESTAMP))").as("to_raw"))
        val bounds = broadcast(ev.agg(
          expr("min(CAST(ts AS DATE))").as("d0"),
          expr("max(CAST(ts AS DATE))").as("d1")))
        val grid = bounds
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
          .select(col("day"),
            expr("unix_micros(CAST(day AS TIMESTAMP))").as("day_us"))
        val capped = hist.join(bounds)
          .withColumn("to_us",
            least(col("to_raw"),
              expr("unix_micros(CAST(d1 AS TIMESTAMP)) + 86400000000")))
          .select("user_id", "version_num", "from_us", "to_us")
        RangeJoin.pointInInterval(grid, capped,
            "day_us", "from_us", "to_us", binWidth = 7L * 86400000000L)
          .groupBy("day")
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("version_num") === 1, 1L).otherwise(0L)).as("n_on_v1"),
            max(col("version_num")).as("max_version"))
          .orderBy("day")
      },
      Some(s"""WITH hist AS (
             |  SELECT user_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
             |      AS version_num,
             |    ts AS valid_from,
             |    COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY event_id),
             |             $sentinelSql) AS valid_to
             |  FROM events),
             |b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
             |      FROM events),
             |grid AS (
             |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
             |    AS day
             |  FROM b)
             |SELECT g.day, CAST(count(*) AS BIGINT) AS n_active,
             |  CAST(sum(CASE WHEN version_num = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_on_v1,
             |  CAST(max(version_num) AS BIGINT) AS max_version
             |FROM grid g JOIN hist h
             |  ON CAST(g.day AS TIMESTAMP) >= h.valid_from
             | AND CAST(g.day AS TIMESTAMP) < h.valid_to
             |GROUP BY g.day ORDER BY g.day""".stripMargin)),

    // Anti-entropy (Merkle-style) replica reconciliation — the operator a
    // CDC fan-out runs to answer "has replica B drifted from A, and
    // WHERE?" without shipping either table: each side summarizes into
    // 256 hash buckets (bucket = top byte of the row-content hash; the
    // per-bucket digest is the SUM of 52-bit row hashes plus a count —
    // order-free, so it needs no sort and merges map-side), the digest
    // tables are compared (256-row join — the "Merkle level"), and only
    // rows in DIFFERING buckets are re-examined to name the drift. The
    // replica here is the lake minus a deterministic ~1% (the
    // scd2_late_corrections withholding), standing in for a sink that
    // missed deliveries. At 100 TB the digest pass is one scan per side
    // and the drill-down rescans only differing buckets' partitions —
    // never a full-table anti join.
    QueryDef(
      "anti_entropy_bucket_diff",
      (s, d) => {
        val ev = t(s, d, "events")
        def hashed(df: org.apache.spark.sql.DataFrame) = df
          .select(col("event_id"),
            // value rides as exact CENTS in the hash input — double→string
            // formatting is the one cross-engine hazard in a row digest
            graft.functions.GraftFunctions.md5Prefix(
              concat_ws("|", col("event_id"), col("user_id"),
                col("event_type"),
                (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
                  .cast("long")), 13).as("rh"))
          .withColumn("bkt", col("rh") % 256)
        val a = hashed(ev)
        val b = hashed(ev.filter(col("event_id") % 97 =!= 0))
        // digest sums ride DECIMAL(38,0): 52-bit hashes × billions of
        // rows/bucket overflow int64 (caught by the 10× smoke under ANSI)
        def digest(df: org.apache.spark.sql.DataFrame, n: String, c: String) = df
          .groupBy("bkt").agg(
            sum(col("rh").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(n),
            count(lit(1)).as(c))
        val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))
        val diff = digest(a, "sum_a", "n_a")
          .join(digest(b, "sum_b", "n_b"), Seq("bkt"), "full_outer")
          .filter(coalesce(col("sum_a"), zero) =!= coalesce(col("sum_b"), zero) ||
            coalesce(col("n_a"), lit(0L)) =!= coalesce(col("n_b"), lit(0L)))
          .select(col("bkt"), coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
        // drill-down: rows of A in drifted buckets that B lacks
        val missing = a.join(broadcast(diff.select("bkt")), Seq("bkt"), "left_semi")
          .join(b.select(col("event_id")), Seq("event_id"), "left_anti")
          .groupBy("bkt").agg(count(lit(1)).as("n_missing"),
            min(col("event_id")).as("first_missing_id"))
        diff.join(missing, Seq("bkt"), "left_outer")
          .select(col("bkt"), col("n_a"), col("n_b"),
            coalesce(col("n_missing"), lit(0L)).as("n_missing"),
            col("first_missing_id"))
          .orderBy("bkt")
      },
      Some("""WITH a AS (
             |  SELECT event_id,
             |    CAST(('0x' || substr(md5(
             |      CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
             |      || '|' || event_type || '|'
             |      || CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)), 1, 13))
             |      AS BIGINT) AS rh
             |  FROM events),
             |ab AS (SELECT event_id, rh, rh % 256 AS bkt FROM a),
             |bb AS (SELECT event_id, rh, rh % 256 AS bkt FROM ab
             |       WHERE event_id % 97 <> 0),
             |da AS (SELECT bkt, CAST(sum(rh) AS BIGINT) AS sum_a,
             |              CAST(count(*) AS BIGINT) AS n_a FROM ab GROUP BY 1),
             |db AS (SELECT bkt, CAST(sum(rh) AS BIGINT) AS sum_b,
             |              CAST(count(*) AS BIGINT) AS n_b FROM bb GROUP BY 1),
             |diff AS (
             |  SELECT COALESCE(da.bkt, db.bkt) AS bkt,
             |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             |  FROM da FULL OUTER JOIN db ON da.bkt = db.bkt
             |  WHERE COALESCE(sum_a, 0) <> COALESCE(sum_b, 0)
             |     OR COALESCE(n_a, 0) <> COALESCE(n_b, 0)),
             |miss AS (
             |  SELECT x.bkt, CAST(count(*) AS BIGINT) AS n_missing,
             |    CAST(min(x.event_id) AS BIGINT) AS first_missing_id
             |  FROM ab x JOIN diff dd ON x.bkt = dd.bkt
             |  WHERE x.event_id NOT IN (SELECT event_id FROM bb)
             |  GROUP BY 1)
             |SELECT d.bkt, d.n_a, d.n_b,
             |  COALESCE(m.n_missing, 0) AS n_missing, m.first_missing_id
             |FROM diff d LEFT JOIN miss m ON d.bkt = m.bkt
             |ORDER BY d.bkt""".stripMargin)),

    // Late-arriving-change correction audit — the question a CDC consumer
    // asks before applying a replayed/late batch: exactly WHICH history
    // rows does it rewrite? Simulated by withholding a deterministic ~1%
    // of the change log (event_id % 97 = 0): the history built without
    // them vs the full history, diffed by set EXCEPT in both directions.
    // The diff is precisely the correction set — each late event's own
    // version row ('upsert') plus every neighbor whose version_num /
    // valid_to it perturbs (old rows to 'retract', renumbered rows to
    // upsert). At 100 TB both histories restrict to the late events'
    // KEYS first (the per-key discipline of the incremental SCD2
    // stream's state); kept whole-log here so the oracle replays it
    // verbatim.
    QueryDef(
      "scd2_late_corrections",
      (s, d) => {
        val ev = t(s, d, "events")
        val cols = Seq("user_id", "event_id", "version_num",
          "valid_from", "valid_to")
        def h(df: org.apache.spark.sql.DataFrame) =
          Scd2.versionize(df, "user_id", "event_id", "ts")
            .select(cols.head, cols.tail: _*)
        val full = h(ev)
        val part = h(ev.filter(col("event_id") % 97 =!= 0))
        full.except(part).withColumn("correction", lit("upsert"))
          .unionByName(part.except(full).withColumn("correction", lit("retract")))
      },
      Some(s"""WITH full_h AS (
              |  SELECT user_id, event_id,
              |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS version_num,
              |    ts AS valid_from,
              |    COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY event_id),
              |             $sentinelSql) AS valid_to
              |  FROM events),
              |part_h AS (
              |  SELECT user_id, event_id,
              |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS version_num,
              |    ts AS valid_from,
              |    COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY event_id),
              |             $sentinelSql) AS valid_to
              |  FROM events WHERE event_id % 97 <> 0)
              |SELECT *, 'upsert' AS correction
              |FROM (SELECT * FROM full_h EXCEPT SELECT * FROM part_h)
              |UNION ALL
              |SELECT *, 'retract' AS correction
              |FROM (SELECT * FROM part_h EXCEPT SELECT * FROM full_h)""".stripMargin)),

    // Bitemporal snapshot: "what did the system BELIEVE on ingestion
    // point E₁ the state at valid time T₀ was" — the two-axis temporal
    // query behind audit replays and retroactive-correction reviews
    // (valid time = event ts; transaction time = event_id as the
    // monotone ingestion sequence, the same modeling assumption the
    // SCD2 family documents). Per user: the as-at belief (last event
    // with ts ≤ T₀ among the first 8000 ingested), the full-knowledge
    // state at T₀, and a `revised` flag marking users whose history was
    // rewritten by late-ingested events — exactly the rows a downstream
    // consumer must re-process. Both legs are arg-max aggregates
    // (max(struct(ts, event_id, ...))): map-side combinable, no
    // windows, one shuffle on user_id.
    QueryDef(
      "bitemporal_asof_asat",
      (s, d) => {
        val valid = col("ts") <= expr("TIMESTAMP_NTZ '2024-01-20 00:00:00'")
        val ev = t(s, d, "events")
          .filter(valid)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val asat = ev.filter(col("event_id") <= 8000L)
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
          .select(col("user_id"), col("m.event_id").as("asat_event_id"),
            col("m.event_type").as("asat_type"))
        val full = ev.groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
          .select(col("user_id"), col("m.event_id").as("current_event_id"),
            col("m.event_type").as("current_type"))
        full.join(asat, Seq("user_id"), "left_outer")
          .select(col("user_id"), col("asat_event_id"), col("asat_type"),
            col("current_event_id"), col("current_type"),
            (col("asat_event_id").isNull ||
              col("asat_event_id") =!= col("current_event_id")).as("revised"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id, event_type
             |  FROM events WHERE ts <= TIMESTAMP '2024-01-20'),
             |asat AS (
             |  SELECT user_id, event_id AS asat_event_id, event_type AS asat_type
             |  FROM (SELECT user_id, event_id, event_type,
             |          ROW_NUMBER() OVER (PARTITION BY user_id
             |            ORDER BY ts DESC, event_id DESC) AS rn
             |        FROM ev WHERE event_id <= 8000) WHERE rn = 1),
             |cur AS (
             |  SELECT user_id, event_id AS current_event_id, event_type AS current_type
             |  FROM (SELECT user_id, event_id, event_type,
             |          ROW_NUMBER() OVER (PARTITION BY user_id
             |            ORDER BY ts DESC, event_id DESC) AS rn
             |        FROM ev) WHERE rn = 1)
             |SELECT cur.user_id, asat_event_id, asat_type,
             |  current_event_id, current_type,
             |  (asat_event_id IS NULL OR asat_event_id <> current_event_id) AS revised
             |FROM cur LEFT JOIN asat ON cur.user_id = asat.user_id
             |ORDER BY cur.user_id""".stripMargin)),

    // Tombstone garbage-collection audit over the CDC envelope lake:
    // a key whose LAST change is a delete is a tombstone, and once its
    // delete timestamp falls behind the retention cutoff (here the
    // lake's temporal midpoint) the key's ENTIRE version history is
    // reclaimable — the accounting a compactor needs before it may
    // physically drop rows without breaking replays (the Kafka-compact
    // / Delta-VACUUM decision). Last-change-per-key is one arg-max
    // aggregate on lsn (map-side combinable — never a window over the
    // full changelog); the cutoff is a broadcast 1-row aggregate; the
    // audit is four conditional sums.
    QueryDef(
      "tombstone_gc_audit",
      (s, d) => {
        val dir = EnvelopeQueries.buildLake(s, d)
        val env = graft.cdc.EnvelopeReader.readEnvelopes(
          s, dir + "/part-*", graft.cdc.CdcSchemas.productsRow)
        val ev = env.filter(col("payload.op").isNotNull)
          .select(
            coalesce(col("payload.after.id"), col("payload.before.id"))
              .cast("long").as("id"),
            col("payload.source.lsn").cast("long").as("lsn"),
            col("payload.ts_ms").cast("long").as("ts_ms"),
            col("payload.op").as("op"))
          .filter(col("id").isNotNull)
        val last = ev.groupBy("id")
          .agg(max(struct(col("lsn"), col("ts_ms"), col("op"))).as("m"),
            count(lit(1)).as("n_versions"))
          .select(col("id"), col("m.op").as("last_op"),
            col("m.ts_ms").as("last_ts"), col("n_versions"))
        val cut = ev.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("cutoff"))
        last.crossJoin(broadcast(cut))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("last_op") === "d", 1L).otherwise(0L))
              .as("n_tombstone_keys"),
            sum(when(col("last_op") === "d" && col("last_ts") < col("cutoff"), 1L)
              .otherwise(0L)).as("n_reclaimable_keys"),
            sum(when(col("last_op") === "d" && col("last_ts") < col("cutoff"),
              col("n_versions")).otherwise(0L)).as("n_reclaimable_rows"))
      },
      Some(s"""WITH ev AS (
              |  SELECT
              |    COALESCE(
              |      CAST(json_extract(json, '$$.payload.after.id') AS BIGINT),
              |      CAST(json_extract(json, '$$.payload.before.id') AS BIGINT)) AS id,
              |    CAST(json_extract(json, '$$.payload.source.lsn') AS BIGINT) AS lsn,
              |    CAST(json_extract(json, '$$.payload.ts_ms') AS BIGINT) AS ts_ms,
              |    json_extract_string(json, '$$.payload.op') AS op
              |  FROM read_ndjson_objects('${EnvelopeQueries.LakeDir}/part-*')
              |  WHERE json_extract(json, '$$.payload.op') IS NOT NULL),
              |evn AS (SELECT * FROM ev WHERE id IS NOT NULL),
              |last AS (
              |  SELECT id, op AS last_op, ts_ms AS last_ts, n_versions
              |  FROM (SELECT id, op, ts_ms,
              |          ROW_NUMBER() OVER (PARTITION BY id
              |            ORDER BY lsn DESC, ts_ms DESC, op DESC) AS rn,
              |          count(*) OVER (PARTITION BY id) AS n_versions
              |        FROM evn) WHERE rn = 1),
              |cut AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS cutoff FROM evn)
              |SELECT CAST(count(*) AS BIGINT) AS n_keys,
              |  CAST(sum(CASE WHEN last_op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_tombstone_keys,
              |  CAST(sum(CASE WHEN last_op = 'd' AND last_ts < cutoff THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_reclaimable_keys,
              |  CAST(sum(CASE WHEN last_op = 'd' AND last_ts < cutoff
              |    THEN n_versions ELSE 0 END) AS BIGINT) AS n_reclaimable_rows
              |FROM last CROSS JOIN cut""".stripMargin)))
}
