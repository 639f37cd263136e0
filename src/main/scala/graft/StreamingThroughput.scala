package graft

import graft.cdc.CdcSchemas
import graft.streaming.{BoundedStream, DocStream, Scd2Streaming}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Throughput/latency/state instrumentation for the CONTINUOUS legs
  * (VERDICT r15 task #1): the 27 streaming oracle rows prove the
  * `transformWithState` pipelines converge to their batch siblings, but
  * nothing measured the sustained rows/s, per-batch latency, or state
  * growth of the two flagship stateful streams — the SCD2 incremental
  * processor ([[Scd2Streaming.incremental]], the continuous half of the
  * reference's Debezium→lake path) and the LSH at-ingest dedup
  * ([[graft.streaming.StatefulAgg.BandOwner]]). This main drives both over
  * ≥20 real micro-batches (file source, one staged slice per trigger,
  * RocksDB state store, parquet append sink — the same shape as the oracle
  * legs, at ~30× their data) and prints one JSON line with, per leg:
  *
  *   - rows_per_s: Σ input rows / Σ triggerExecution time — the sustained
  *     processing rate including sink cost (not wall: AvailableNow's
  *     inter-batch planning gaps are driver scheduling, not pipeline cost,
  *     but both are reported so nothing hides);
  *   - batch p50/p95 ms over the data-carrying batches;
  *   - state_rows per batch (stateOperators.numRowsTotal) plus the batch
  *     pipeline's EXPECTED distinct-key count — final must equal expected,
  *     or keyed state is leaking (rows that outlive their key) / being
  *     dropped (early eviction), the exact 100 TB failure mode a
  *     correctness replay at converged end-state cannot see;
  *   - below_floor: the pinned regression bar ([[Floors]], calibrated at
  *     ~4× under the measured r16 steady state — box-drift-proof the same
  *     way the skew gate's absolute rule is) — any leg under its floor or
  *     any final-state mismatch lists here, and [[Bench]] re-emits the
  *     same bar in its graded tail every round.
  *
  * SCD2 ingests a synthetic Debezium stream ([[envelopeValue]]); LSH
  * ingests the sf lake's `documents` corpus scaled by affine-rotated
  * copies (ScaleSmoke's construction — the copies are token-disjoint, so
  * band state grows with the corpus and the dedup has real work per
  * batch).
  *
  * The legs run the catalog's own streams, not copies of them: the SCD2
  * stream is [[Scd2Streaming.startIncremental]], and the LSH legs stage,
  * read and band the corpus and start the band owners through
  * [[DocStream]]; both set the RocksDB store through
  * [[BoundedStream.startStateful]]. Only the scale, the slicing and the
  * harvest of the progress history are this object's. Each leg deletes
  * its checkpoint and sink under the scratch root once it has read what
  * it needs.
  *
  *   runMain graft.StreamingThroughput [sfDir] [outPath]
  */
object StreamingThroughput {

  /** One micro-batch observation (from StreamingQueryProgress).
    * `stateBytes` is stateOperators.memoryUsedBytes summed — for RocksDB
    * the provider's reported total memory (blocks + memtable + SST
    * readers), the actual executor footprint the 100 TB sizing question
    * is about (VERDICT r16 task #2: row COUNTS alone can't show whether
    * a linearly-growing key space is becoming the cluster's RAM budget).
    */
  final case class BatchStat(batchId: Long, rows: Long, execMs: Long,
                             stateRows: Long, stateBytes: Long)

  /** One leg's full measurement. `stateBound = true` switches the
    * converged-state check from exact equality to an UPPER bound — the
    * right contract for the TTL'd leg, where the exact survivor count
    * depends on intra-batch timer/watermark ordering but the footprint
    * bound (state ≤ bands in the trailing horizon-plus-lag window) is
    * what the 100 TB sizing argument rests on. A TTL that silently never
    * deletes blows the bound by ~3× and flags.
    */
  final case class LegResult(leg: String, totalRows: Long, wallS: Double,
                             expectedStateRows: Long, batches: Seq[BatchStat],
                             stateBound: Boolean = false) {
    def dataBatches: Seq[BatchStat] = batches.filter(_.rows > 0)
    def execS: Double = dataBatches.map(_.execMs).sum / 1000.0
    def rowsPerS: Double = if (execS > 0) totalRows / execS else -1.0
    private def pct(p: Double): Long = {
      val s = dataBatches.map(_.execMs).sorted
      if (s.isEmpty) -1L else s(math.min(s.size - 1, (p * s.size).toInt))
    }
    def p50Ms: Long = pct(0.50)
    def p95Ms: Long = pct(0.95)
    /** p95 over the data batches EXCLUDING the first (batch-0 absorbs the
      * RocksDB store open + column-family setup — measured 7.5 s vs a
      * 1.3–2.4 s steady state on the SCD2 leg — so the plain p95 is
      * warmup-dominated and regression-blind; VERDICT r16 task #4).
      */
    def p95SteadyMs: Long = {
      val s = dataBatches.drop(1).map(_.execMs).sorted
      if (s.isEmpty) -1L else s(math.min(s.size - 1, (0.95 * s.size).toInt))
    }
    def stateRowsFinal: Long = dataBatches.lastOption.map(_.stateRows).getOrElse(-1L)
    def stateRowsMax: Long = if (batches.isEmpty) -1L else batches.map(_.stateRows).max
    def stateBytesFinal: Long = dataBatches.lastOption.map(_.stateBytes).getOrElse(-1L)
    /** The leg's full record, per-batch arrays included. */
    def record: (String, Any) = {
      import Json.{obj, round}
      leg -> obj("rows" -> totalRows, "batches" -> batches.size,
        "data_batches" -> dataBatches.size, "rows_per_s" -> round(rowsPerS, 0),
        "exec_s" -> round(execS, 2), "wall_s" -> round(wallS, 2),
        "p50_ms" -> p50Ms, "p95_ms" -> p95Ms, "p95_steady_ms" -> p95SteadyMs,
        "state_rows_final" -> stateRowsFinal, "state_rows_max" -> stateRowsMax,
        "state_rows_expected" -> expectedStateRows,
        "state_check" -> (if (stateBound) "bound" else "exact"),
        "state_bytes_final" -> stateBytesFinal,
        "batch_rows" -> batches.map(_.rows), "batch_ms" -> batches.map(_.execMs),
        "batch_state_rows" -> batches.map(_.stateRows),
        "batch_state_bytes" -> batches.map(_.stateBytes))
    }
  }

  /** The pinned regression bar (leg → min rows/s). Calibrated r16 on the
    * bench box: scd2_incremental measured ~61k events/s and
    * lsh_dedup_ingest ~8k docs/s sustained at the bench profile; floors
    * sit ~4× under steady state so box drift cannot flag but a plan/state
    * regression (an extra shuffle, a state-store scan per row, a lost
    * map-side combine) cannot hide.
    */
  val Floors: Map[String, Double] = Map(
    "scd2_incremental" -> 15000.0,
    "lsh_dedup_ingest" -> 2000.0,
    // same pipeline + one timer column family: calibrated r17 at ~7k
    // docs/s steady next to the unbounded leg's 6-8k, same 3-4× margin
    "lsh_dedup_ttl" -> 2000.0)

  /** Bench profile: ≥20 data batches per leg, sized so the whole section
    * stays ~2 min of bench wall while each batch is well past the trigger
    * fixed cost (~100 ms).
    */
  val Scd2Events = 2000000L
  val Scd2Slices = 20
  // 40 copies → 10k docs/batch: at 2k docs/batch the ~0.5 s trigger fixed
  // cost IS the measurement (1.7k docs/s); at 10k the kernel+state cost
  // dominates and the number reflects the pipeline, not the scheduler
  val LshCopies = 40
  val LshSlices = 20

  /** The legs' scratch root (checkpoints and sinks) for the mains. */
  val Scratch: String = AtomicPublish.scratch("graft_stream_tp")

  /** Debezium-shaped NDJSON envelope for synthetic event `id` (lsn = id,
    * ~n/keys versions per key; the first `keys` ids are creates).
    */
  private def envelopeValue(keys: Long): org.apache.spark.sql.Column =
    CdcSchemas.envelopeJson(
      lit(null).cast(CdcSchemas.productsRow),
      struct((col("id") % keys).cast("int").as("id"),
        concat(lit("name-"), col("id") % 1000).as("name"),
        lit("desc").as("description"),
        (col("id") % 10000).cast("double").as("price")),
      when(col("id") < keys, "c").otherwise("u"),
      lit(1733333333000L) + col("id"), col("id"))

  /** Stage the synthetic Debezium envelope lake as `slices` NDJSON files,
    * mtime-ordered so the file source replays event order (one file per
    * trigger). Published once per (n, slices) via AtomicPublish — the
    * stream is deterministic, so repeat runs skip the build.
    */
  def ensureEnvelopeSlices(spark: SparkSession, n: Long, slices: Int): String =
    AtomicPublish.synthetic(AtomicPublish.scratch(s"graft_stream_envlake_${n}_$slices"),
        s"n=$n slices=$slices", "1") { tmp =>
      val keys = n / 10
      (0 until slices).foreach { i =>
        BoundedStream.writeSlice(spark.range(i * n / slices, (i + 1) * n / slices)
          .select(envelopeValue(keys).as("value")), s"$tmp/b$i", i, "text")
      }
    }

  /** Run one leg's `body` with a progress retention wide enough for every
    * micro-batch, restoring it afterwards (ADVICE r16: it used to leak
    * into the rest of the shared Bench session), then delete the leg's
    * checkpoint and sink dir `dir`, which `body` has read by then.
    *
    * The state stores are stopped before the delete: with changelog
    * checkpointing a RocksDB snapshot falls due every 10 versions, and the
    * store's maintenance thread uploads it on its next pass (once a
    * minute), after the query has stopped, into a checkpoint it recreates. Stopping unloads every
    * loaded store and waits for a pass in flight; the next stateful query
    * restarts maintenance. The legs run one at a time, so no other
    * query's store is loaded.
    */
  private def leg[T](spark: SparkSession, dir: String)(body: => T): T = {
    val path = java.nio.file.Paths.get(dir)
    AtomicPublish.deleteTree(path) // no old checkpoint or sink
    try GraftSession.withConf(spark,
      // every micro-batch must survive in recentProgress or p95/state
      // growth are computed over a truncated window (default retention 100)
      "spark.sql.streaming.numRecentProgressUpdates" -> "400")(body)
    finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      AtomicPublish.deleteTree(path)
    }
  }

  /** Per-batch stats from a completed query's progress history. */
  private def harvest(q: StreamingQuery): Seq[BatchStat] =
    q.recentProgress.toSeq.map { p =>
      val execMs = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue()).getOrElse(-1L)
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      BatchStat(p.batchId, p.numInputRows, execMs, stateRows, stateBytes)
    }.sortBy(_.batchId)

  /** Run one AvailableNow stream to completion in its own [[leg]] dir
    * and harvest per-batch stats from its progress history. `start` must
    * build and start the query into that dir; state rows come from
    * stateOperators.numRowsTotal.
    */
  private def drive(spark: SparkSession, dir: String, start: String => StreamingQuery,
                    name: String, totalRows: Long, expectedState: Long): LegResult =
    leg(spark, dir) {
      val t0 = System.nanoTime()
      val q = start(dir)
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      LegResult(name, totalRows, wallS, expectedState, harvest(q))
    }

  /** The staged envelope slices as a stream, one slice per trigger. */
  private def envelopeStream(spark: SparkSession, lake: String) =
    Scd2Streaming.readEnvelopeStream(spark, s"$lake/b*/part-*", CdcSchemas.productsRow,
      maxFilesPerTrigger = 1)

  /** SCD2 incremental leg: [[Scd2Streaming.startIncremental]] over every
    * product attribute, the stream the SCD2 catalog queries run, at bench
    * size.
    */
  def scd2Leg(spark: SparkSession, scratchRoot: String,
              n: Long = Scd2Events, slices: Int = Scd2Slices): LegResult = {
    val lake = ensureEnvelopeSlices(spark, n, slices)
    // one ValueState row per key ⇒ end state must be exactly the distinct
    // key count of the stream (n/10 by construction)
    drive(spark, s"$scratchRoot/scd2", Scd2Streaming.startIncremental(envelopeStream(spark, lake),
        Seq("name", "description", "price"), _),
      "scd2_incremental", n, expectedState = n / 10)
  }

  /** LSH at-ingest dedup leg: [[DocStream.startBandOwner]] without a
    * horizon (per-band running-min ValueState) over `copies` of the
    * corpus, the stream streaming_lsh_dedup_ingest runs, at bench size.
    * rows_per_s counts DOCUMENTS (the source rows), not band rows.
    */
  def lshLeg(spark: SparkSession, sfDir: String, scratchRoot: String,
             copies: Int = LshCopies, slices: Int = LshSlices): LegResult = {
    val lake = DocStream.ensureSlices(spark, sfDir, copies, slices)
    // expected end state: one ValueState row per distinct band in the
    // corpus (batch replay of the same kernel)
    val scaled = DocStream.scaled(spark, sfDir, copies)
    val expected = DocStream.bands(scaled).select("band").distinct().count()
    val totalDocs = scaled.count()
    drive(spark, s"$scratchRoot/lsh", DocStream.startBandOwner(spark, lake, None, _),
      "lsh_dedup_ingest", totalDocs, expected)
  }

  /** TTL'd LSH dedup leg (VERDICT r16 task #2): same corpus, same kernel,
    * but band state is [[graft.streaming.StatefulAgg.BandOwnerTtl]] with a
    * `horizonDocs` dedup horizon — the bounded-growth mitigation whose
    * SEMANTICS are oracle-pinned by `streaming_lsh_dedup_ttl` (a LAG
    * window); this leg measures the FOOTPRINT claim at bench scale: the
    * unbounded leg converges to one state row per band ever seen (1.5M at
    * this profile, growing linearly with the corpus forever), the TTL leg
    * must converge to O(bands in the trailing horizon) regardless of
    * stream length. The state check is a BOUND: survivors ≤ distinct
    * bands last seen within (horizon + 2 slice widths) of the stream end
    * — horizon by semantics, the slice terms for watermark/timer lag (the
    * watermark trails one batch; a timer registered in the final batch
    * cannot fire). A TTL that silently never deletes sits at the full
    * per-band count, ~3× the bound, and flags.
    */
  def lshTtlLeg(spark: SparkSession, sfDir: String, scratchRoot: String,
                copies: Int = LshCopies, slices: Int = LshSlices,
                horizonDocs: Long = 24000L): LegResult = {
    val lake = DocStream.ensureSlices(spark, sfDir, copies, slices)
    val scaled = DocStream.scaled(spark, sfDir, copies)
    val totalDocs = scaled.count()
    val maxDoc = scaled.agg(max("doc_id")).head().getLong(0)
    val sliceWidth = (maxDoc + 1) / slices
    val bound = DocStream.bands(scaled).groupBy("band")
      .agg(max("doc_id").as("last_doc"))
      .filter(col("last_doc") > maxDoc - horizonDocs - 2 * sliceWidth)
      .count()
    drive(spark, s"$scratchRoot/lsh_ttl",
      DocStream.startBandOwner(spark, lake, Some(horizonDocs), _),
      "lsh_dedup_ttl", totalDocs, bound)
      .copy(stateBound = true)
  }

  /** One kill-and-resume measurement over the SCD2 incremental leg
    * (r16 extension of the throughput artifact): stop the stream
    * mid-flight after `stopAfter` committed batches, restart from the
    * checkpoint, and measure what the exactly-once story actually costs
    * and guarantees — recovery latency to the first post-restart commit,
    * how many batches replayed (a torn batch re-runs under its original
    * id; committed ones must not), and the END-STATE exactness the
    * documented at-least-once→upsert contract promises: distinct
    * (id, lsn) emissions == every version exactly once, converged state
    * rows == distinct keys. The oracle legs prove replay ≡ batch on
    * converged OUTPUT; this is the only measurement that would catch a
    * checkpoint that silently re-ingests (duplicate versions) or loses
    * state (missing keys) across a restart.
    */
  final case class RecoveryResult(preStopBatches: Int, replayedBatches: Int,
                                  postRestartBatches: Int, recoveryFirstCommitS: Double,
                                  distinctVersions: Long, expectedVersions: Long,
                                  stateRowsFinal: Long, expectedStateRows: Long) {
    def clean: Boolean =
      distinctVersions == expectedVersions && stateRowsFinal == expectedStateRows
    def record: (String, Any) =
      "scd2_recovery" -> Json.obj("pre_stop_batches" -> preStopBatches,
        "replayed_batches" -> replayedBatches, "post_restart_batches" -> postRestartBatches,
        "recovery_first_commit_s" -> Json.round(recoveryFirstCommitS, 2),
        "distinct_versions" -> distinctVersions, "expected_versions" -> expectedVersions,
        "state_rows_final" -> stateRowsFinal, "state_rows_expected" -> expectedStateRows)
  }

  def recoveryLeg(spark: SparkSession, scratchRoot: String,
                  n: Long = Scd2Events, slices: Int = Scd2Slices,
                  stopAfter: Int = 10): RecoveryResult = {
    val lake = ensureEnvelopeSlices(spark, n, slices)
    val scratch = s"$scratchRoot/scd2_recovery"
    leg(spark, scratch) {
      def start() = Scd2Streaming.startIncremental(envelopeStream(spark, lake), Seq("name"), scratch)
      // phase 1: run until `stopAfter` batches have committed, then stop
      // mid-flight (the in-flight batch is torn — the checkpoint replays
      // it under the same id on restart)
      val q1 = start()
      while (q1.isActive &&
        (q1.lastProgress == null || q1.lastProgress.batchId < stopAfter - 1)) {
        Thread.sleep(100)
      }
      q1.stop()
      q1.awaitTermination()
      val committed1 = q1.recentProgress.map(_.batchId).toSet
      // phase 2: restart from the checkpoint and drain to completion
      val t0 = System.nanoTime()
      val q2 = start()
      while (q2.isActive && q2.lastProgress == null) Thread.sleep(50)
      val firstCommitS = (System.nanoTime() - t0) / 1e9
      q2.awaitTermination()
      val prog2 = q2.recentProgress.toSeq
      val committed2 = prog2.map(_.batchId).toSet
      val stateFinal = prog2.sortBy(_.batchId).lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      // end-state exactness: every (id, lsn) version emitted at least
      // once and countable exactly once after the documented sink-side
      // upsert (dedup on the version key)
      val distinctVersions = spark.read.parquet(s"$scratch/emissions")
        .select("id", "lsn").distinct().count()
      RecoveryResult(
        preStopBatches = committed1.size,
        replayedBatches = (committed1 & committed2).size,
        postRestartBatches = committed2.size,
        recoveryFirstCommitS = firstCommitS,
        distinctVersions = distinctVersions, expectedVersions = n,
        stateRowsFinal = stateFinal, expectedStateRows = n / 10)
    }
  }

  /** Box-normalization clamp for the absolute rows/s floors (VERDICT r16
    * task #3): the floors are raw numbers pinned on the r16 bench box, and
    * the box itself drifts 0.3–3× round to round (the canary's measured
    * band) — so a slow driver box could flag a healthy build. A canary
    * box factor > 1 (box slower than the reference run) DIVIDES the floor
    * by up to 3×; a fast box never TIGHTENS a floor (measured throughput
    * is higher there — the pinned floor is already conservative), and the
    * relaxation caps at 3× so a genuinely collapsed leg cannot hide
    * behind an extreme canary reading. Validated by synthetic controls in
    * StreamingThroughputSpec: a 3×-slow box does not false-flag, a real
    * 5× throughput collapse on a normal box still does.
    */
  def floorRelax(boxFactor: Double): Double =
    if (boxFactor.isNaN || boxFactor <= 0) 1.0
    else math.min(3.0, math.max(1.0, boxFactor))

  /** The graded bar: legs under their (box-normalized) rows/s floor, plus
    * any leg whose converged state-row count differs from the
    * batch-expected distinct keys (suffix `_state`: a leak or an early
    * eviction). `boxFactor` is the bench canary median (1.0 = reference
    * box; see [[floorRelax]]). The rows/s floors were calibrated on the
    * sf0.1 lake, so they grade only on it ([[Bench.onCanaryLake]]); the
    * state and recovery checks grade on every lake.
    */
  def belowFloor(sfDir: String, legs: Seq[LegResult],
                 recovery: Option[RecoveryResult] = None,
                 boxFactor: Double = 1.0): Seq[String] =
    legs.flatMap { l =>
      val floor = if (!Bench.onCanaryLake(sfDir)) 0.0
        else Floors.getOrElse(l.leg, 0.0) / floorRelax(boxFactor)
      val slow = if (l.rowsPerS < floor) Seq(l.leg) else Nil
      val stateBad = if (l.stateBound) l.stateRowsFinal > l.expectedStateRows
                     else l.stateRowsFinal != l.expectedStateRows
      val leak = if (stateBad) Seq(s"${l.leg}_state") else Nil
      slow ++ leak
    } ++ recovery.toSeq.flatMap { r =>
      val dup = if (r.distinctVersions != r.expectedVersions)
        Seq("scd2_recovery_versions") else Nil
      val st = if (r.stateRowsFinal != r.expectedStateRows)
        Seq("scd2_recovery_state") else Nil
      dup ++ st
    }

  private def floorsRecord: Map[String, Any] =
    Json.obj(Floors.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.round(v, 0) }: _*)

  /** The compact record for the bench tail (per-batch arrays omitted — the
    * full record comes from this object's main).
    */
  def benchRecord(sfDir: String, legs: Seq[LegResult],
                  recovery: Option[RecoveryResult] = None,
                  boxFactor: Double = 1.0): Map[String, Any] = {
    import Json.{obj, round}
    obj(legs.map { l =>
      l.leg -> obj("rows_per_s" -> round(l.rowsPerS, 0), "p50_ms" -> l.p50Ms,
        "p95_ms" -> l.p95Ms, "p95_steady_ms" -> l.p95SteadyMs,
        "data_batches" -> l.dataBatches.size,
        "state_rows_final" -> l.stateRowsFinal, "state_rows_expected" -> l.expectedStateRows,
        "state_bytes_final" -> l.stateBytesFinal)
    } ++ recovery.map(_.record) ++ Seq("floors" -> floorsRecord,
      "floor_relax" -> round(floorRelax(boxFactor), 2),
      "below_floor" -> belowFloor(sfDir, legs, recovery, boxFactor).sorted): _*)
  }

  /** The full record this object's main prints. */
  private[graft] def record(sfDir: String, legs: Seq[LegResult],
                            recovery: Option[RecoveryResult]): Map[String, Any] =
    Json.obj(Seq("metric" -> "streaming_throughput", "sf" -> sfDir) ++ legs.map(_.record) ++
      recovery.map(_.record) ++ Seq("floors" -> floorsRecord,
        "below_floor" -> belowFloor(sfDir, legs, recovery).sorted): _*)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val legs = Seq(scd2Leg(spark, Scratch), lshLeg(spark, sfDir, Scratch),
      lshTtlLeg(spark, sfDir, Scratch))
    val recovery = Some(recoveryLeg(spark, Scratch))
    val line = Json.write(record(sfDir, legs, recovery))
    println(line)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p), (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    if (belowFloor(sfDir, legs, recovery).nonEmpty) sys.exit(1)
  }
}
