package graft.operators

import graft.QueryDef
import graft.cdc.CdcSchemas
import graft.streaming.{BoundedStream, DocStream, Scd2Streaming}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Driver-visible correctness entries for the streaming path (SURVEY.md
  * §2.8): the continuous modes must converge to the reference's batch
  * rebuild, and here that equivalence goes under the DuckDB oracle gate —
  * each query actually drives a Structured Streaming job (file source over
  * the deterministic envelope lake, `maxFilesPerTrigger=1` so the run is
  * genuinely multi-micro-batch), materializes the streamed output, and the
  * oracle recomputes the expected table from the same NDJSON with batch
  * SQL. The reference's own compute is that batch rebuild re-run per
  * trigger (duckdb/Dockerfile:8-9, transform_scd2.py:20); its transport is
  * continuous (README.md:27) — these queries pin down that our streaming
  * compute matches the batch semantics event-for-event.
  *
  * Excluded from the sf-scaled bench headline set: the lake is a
  * fixed-size synthetic input (sf-independent by construction — see
  * [[EnvelopeQueries]]), so a timing would measure trigger scheduling and
  * checkpoint I/O, not data-proportional operator cost.
  *
  * Each query is one [[cached]] (or [[streamed]]) entry, named once. The
  * streams it shares with [[graft.StreamingThroughput]]'s legs have one
  * home under `graft.streaming`, which [[CacheGen]] hashes:
  * [[Scd2Streaming.startIncremental]] (the SCD2 stream),
  * [[DocStream]] (the document slicer, its stream read, the LSH band
  * kernel, the band-owner stream and its fold),
  * [[BoundedStream.converged]] (the last emission per key of a
  * batch-id-tagged sink) and [[BoundedStream.startStateful]] (the one
  * RocksDB scope, for every `transformWithState` stream).
  */
object StreamingQueries {

  /** Code generation for the cached results below and the synthetic
    * lakes of [[EnvelopeQueries]] (they live in the scratch root across
    * processes and runs): derived MECHANICALLY from the
    * compiled bytecode of every class a streamed pipeline can execute, so
    * any recompiled semantic change invalidates the cache by construction
    * — no manual bump to forget (ADVICE r4). Coverage is by PACKAGE, not
    * a hand-curated class list: a curated list just moves the failure
    * mode from "forgot to bump" to "forgot to extend the list" (ADVICE
    * r6 — and indeed the old list missed Compaction, which the
    * lake-roundtrip pipelines execute). Walking the package dirs also
    * picks up separate anon-class files (`…$$anon$N.class`) that hashing
    * a single object's class file would miss; plain lambda bodies compile
    * into the host class file either way.
    */
  private[graft] lazy val CacheGen: String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val loc = Paths.get(StreamingQueries.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    // sbt `test` runs from the classes directory; sbt `runMain` packages
    // the same classes into a jar — hash identical (name, bytes) pairs
    // from either layout so the generation tag matches across them.
    val entries: Seq[(String, Array[Byte])] =
      if (Files.isDirectory(loc))
        Files.walk(loc).iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => loc.relativize(p).toString -> p)
          .filter(e => covered(e._1))
          .map { case (n, p) => n -> Files.readAllBytes(p) }
          .toSeq
      else {
        val jar = new java.util.jar.JarFile(loc.toFile)
        try jar.entries().asScala
          .filter(e => covered(e.getName))
          .map { e =>
            val in = jar.getInputStream(e)
            try e.getName -> in.readAllBytes() finally in.close()
          }.toSeq
        finally jar.close()
      }
    require(entries.nonEmpty, s"no covered class files found in $loc")
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sortBy(_._1).foreach { case (n, bytes) =>
      md.update(n.getBytes("UTF-8")); md.update(bytes)
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Whether [[CacheGen]] hashes the class file at `relName` (a path
    * relative to the classes root): full packages any streamed or cached
    * pipeline reaches, plus the graft.operators classes hosting the
    * pipeline bodies themselves. The builders the cached runs share live
    * here, so an edit to them re-keys every cached result.
    */
  private[graft] def covered(relName: String): Boolean = relName.endsWith(".class") &&
    (Seq("graft/streaming/", "graft/cdc/", "graft/text/") ++
      Seq("StreamingQueries", "EnvelopeQueries", "Compaction").map("graft/operators/" + _))
      .exists(relName.startsWith)

  /** Run a side-effectful streaming pipeline at most once per (query,
    * sfDir content, code generation) and serve the materialized result
    * from parquet afterwards (ADVICE r3): plan-enumerating consumers and
    * repeat invocations (PlanSpec's every-query loop, Verify after tests)
    * stop paying a multi-trigger streaming run each time, and the
    * checkpoint/output scratch dirs — previously leaked temp dirs — are
    * deleted as soon as the result is materialized. The result is a
    * [[graft.AtomicPublish.derived]] lake, one dir per source lake, so
    * runs at different scale factors — PlanSpec at sf0.001, Verify at
    * sf0.01 — keep their own publications, concurrent runs never read a
    * half-written result and regenerated testdata forces a re-run.
    */
  private[operators] def cachedRun(s: SparkSession, name: String, sfDir: String)
                                  (run: (String, String) => Unit): DataFrame = {
    val dst = graft.AtomicPublish.derived(s"graft_stream_results/$name", sfDir, "", CacheGen) { tmp =>
      val scratch = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(graft.AtomicPublish.Root), s"graft-stream-$name").toString
      try run(scratch, tmp) // (checkpoint/intermediate scratch, result parquet dir)
      finally graft.AtomicPublish.deleteTree(java.nio.file.Paths.get(scratch))
    }
    s.read.parquet(dst)
  }

  /** A catalog query that runs a stream: out of the bench headline (see
    * the header) and side-effecting, since invoking it runs the stream.
    */
  private[operators] def streamed(name: String, spark: (SparkSession, String) => DataFrame,
                                  oracle: String): QueryDef =
    QueryDef(name, spark, Some(oracle), bench = false, sideEffecting = true)

  /** A [[streamed]] query served by its own [[cachedRun]] under its name:
    * `run(session, sfDir, scratch, resultOut)`.
    */
  private[operators] def cached(name: String, run: (SparkSession, String, String, String) => Unit,
                                oracle: String): QueryDef =
    streamed(name, (s, d) => cachedRun(s, name, d)(run(s, d, _, _)), oracle)

  /** Stream the products envelope lake through the per-key incremental
    * state (mode 3, transformWithState), one lake file per trigger, and
    * write its converged history to `resultOut` — convergent regardless of
    * how the files were sliced into triggers. One cached run
    * ([[scd2Converged]]) serves both `streaming_scd2_rebuild` and
    * `streaming_scd2_incremental`, so the lake streams once.
    */
  private def runIncremental(s: SparkSession, scratch: String, resultOut: String): Unit = {
    val dir = EnvelopeQueries.buildLake(s)
    runIncrementalScd2(s, scratch, Scd2Streaming.readEnvelopeStream(
      s, dir + "/part-*", CdcSchemas.productsRow, maxFilesPerTrigger = 1),
      ProductAttrs.map(_.name))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** The products row's attributes: everything but the key. */
  private val ProductAttrs = CdcSchemas.productsRow.fields.toSeq.filter(_.name != "id")

  private def scd2Converged(s: SparkSession, sfDir: String): DataFrame =
    cachedRun(s, "streaming_scd2_converged", sfDir)(runIncremental(s, _, _))

  /** Drain an envelope stream through [[Scd2Streaming.startIncremental]]
    * and return the converged history of its emissions.
    */
  private def runIncrementalScd2(s: SparkSession, scratch: String, envelopes: DataFrame,
                                 attrFields: Seq[String]): DataFrame = {
    Scd2Streaming.startIncremental(envelopes, attrFields, scratch).awaitTermination()
    BoundedStream.converged(s.read.parquet(s"$scratch/emissions"), Scd2Streaming.VersionKey)
  }

  /** Stream the `documents` table through [[graft.streaming.StreamingDedup
    * .firstSeen]] as four deterministic micro-batches (doc_id mod 4,
    * trigger order forced via strictly increasing file mtimes on a
    * single-file-per-trigger parquet stream). Returns (keep_id,
    * content_hash): the first-seen winner per fingerprint.
    */
  private def runFirstSeenDedup(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val stage = s"$scratch/lake"
    val docs = graft.QueryDef.t(s, sfDir, "documents")
      .select(col("doc_id"), graft.text.TextOps.fingerprintMd5(col("text")).as("content_hash"))
    (0 until 4).foreach { i =>
      BoundedStream.writeSlice(docs.filter(col("doc_id") % 4 === i), s"$stage/b$i", i)
    }
    val out = s"$scratch/kept"
    val kept = graft.streaming.StreamingDedup.firstSeen(
      s.readStream.schema("doc_id LONG, content_hash STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage + "/b*/part-*.parquet")
        .selectExpr("doc_id AS docId", "content_hash AS contentHash")
        .as[graft.streaming.StreamingDedup.DocRecord])
    BoundedStream.start(kept, s"$scratch/ckpt") { (b, _) =>
      b.write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out).select(col("docId").as("keep_id"), col("contentHash").as("content_hash"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Stream the `events` table (sliced into four deterministic
    * micro-batches by event_id, trigger order pinned via file mtimes)
    * through a watermarked 1-hour tumbling-window aggregation in complete
    * output mode; the last trigger's snapshot is the full aggregate. This
    * puts the watermark + window + stateful-agg streaming surface (SURVEY
    * §2.8) under the DuckDB oracle next to the SCD2 and dedup rows.
    */
  private val EventSliceSchema = "ts TIMESTAMP, event_type STRING, value DOUBLE, user_id LONG, event_id LONG"

  /** The `events` stream columns, each row tagged with its time quartile
    * `slice` (0–3), its epoch `ms` and the table's time bounds `t0`/`t1`.
    * The bounds come from a broadcast 1-row min/max aggregate — no global
    * window. Watermarks require TIMESTAMP (ltz); the session zone is UTC,
    * so the ntz→ltz cast here and the ltz→ntz cast on any output are
    * identities on the wall-clock values the oracle sees.
    */
  private def eventQuartiles(s: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.QueryDef.t(s, sfDir, "events")
      .select(col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"), col("user_id"), col("event_id"))
    val bounds = ev.agg(min(unix_millis(col("ts"))).as("t0"),
      max(unix_millis(col("ts"))).as("t1"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("slice", least(lit(3),
        floor((col("ms") - col("t0")) * 4 / (col("t1") - col("t0") + 1)).cast("int")))
  }

  /** Stage the `events` table as four deterministic micro-batch files
    * sliced into CONTIGUOUS TIME QUARTILES (trigger order pinned via
    * strictly increasing file mtimes). Time-contiguous slices are what a
    * real CDC/event transport delivers, and they are required for
    * watermark correctness: an event_id-sliced lake would put the whole
    * time range in every trigger, so batch 2+ would arrive behind the
    * watermark and be dropped as late ([[eventQuartiles]] cuts them).
    */
  private def stageEventSlices(s: SparkSession, sfDir: String, stage: String,
                               overlapMinutes: Int = 0): String = {
    val sliced = eventQuartiles(s, sfDir)
    (0 until 4).foreach { i =>
      // overlap > 0 re-delivers the trailing `overlapMinutes` of the
      // PREVIOUS slice into this one — the at-least-once transport shape
      // (a restarted producer resends from its last commit point)
      val redelivered =
        if (overlapMinutes > 0 && i > 0)
          col("slice") === (i - 1) &&
            col("ms") >= col("t0") + (col("t1") - col("t0") + 1) * i / 4 -
              lit(overlapMinutes * 60000L)
        else lit(false)
      BoundedStream.writeSlice(sliced.filter(col("slice") === i || redelivered)
        .drop("slice", "t0", "t1", "ms"), s"$stage/b$i", i)
    }
    stage + "/b*/part-*.parquet"
  }

  /** Exactly-once recovery from an at-least-once transport:
    * `dropDuplicatesWithinWatermark` over an event stream whose slices
    * re-deliver the trailing 15 DAYS of the previous slice (the shape a
    * restarted producer or an at-least-once broker hands you; the lake
    * spans years, so a wide tail yields hundreds of duplicates). Dedup
    * state is keyed on event_id and EVICTED once the 30-day watermark
    * passes an event's time — bounded state, unlike a full-history
    * dropDuplicates (each slice spans months, so most state IS evicted
    * between triggers) — and every re-delivery lands within the watermark
    * of its first arrival, so the emitted stream must be exactly the
    * original event set: a dropped original or a surviving duplicate
    * hash-fails.
    */
  private def runAtLeastOnceDedup(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake",
      overlapMinutes = 15 * 24 * 60)
    val out = s"$scratch/emissions"
    val deduped = eventStream(s, glob)
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("event_id")
    BoundedStream.start(deduped, s"$scratch/ckpt") { (b, _) =>
      b.select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("event_type"), col("value"))
        .write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out).coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  private def eventStream(s: SparkSession, glob: String): DataFrame =
    s.readStream.schema(EventSliceSchema).option("maxFilesPerTrigger", 1).parquet(glob)

  /** Streaming current-state serving table (the reference's OTHER SCD2
    * variant — init_duckdb.sh's compare-current-rows path — run
    * continuously) via [[graft.streaming.CurrentState.LakeMaintainer]]:
    * each micro-batch's net changes merge into a lake-persisted
    * generation chain that survives restarts and absorbs replays (see
    * the maintainer's doc; crash-recovery semantics are unit-tested in
    * `CurrentStateSpec`). The converged table must equal the batch
    * last-change-per-key (scd2_current's oracle shape).
    */
  private def runCurrentState(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val maintainer = new graft.streaming.CurrentState.LakeMaintainer(
      s, s"$scratch/state", "user_id", "event_id", Seq("ts", "event_type", "value"))
    BoundedStream.start(eventStream(s, glob), s"$scratch/ckpt") { (b, batchId) =>
      maintainer.step(b, batchId)
    }.awaitTermination()
    maintainer.current().getOrElse(sys.error("no micro-batches ran"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp_ntz").as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  private def runWindowCounts(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val agg = eventStream(s, glob)
      .select("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    // state retained across triggers; snapshot per trigger
    BoundedStream.start(agg, s"$scratch/ckpt", OutputMode.Complete()) { (b, _) =>
      b.select(col("window.start").cast("timestamp_ntz").as("hour_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .coalesce(1).write.mode("overwrite").parquet(resultOut)
    }.awaitTermination()
  }

  /** Stage the events table like [[stageEventSlices]], but re-route two
    * deterministic row classes later than their time quartile — the
    * straggler shape a real transport produces (a lagging partition, a
    * resuming producer): 10% of rows (md5-hash of event_id < 100000)
    * arrive ONE slice late; a further ~5% (hash in [100000, 200000),
    * restricted to the EARLY HALF of their slice) arrive TWO slices
    * late. Tail batches b4/b5 carry the slice-3 spillover. These are
    * held-back ORIGINALS, not re-deliveries, so any row the watermark
    * drops is truly lost from the aggregate — which is the semantics
    * [[runLateDataAudit]] pins.
    */
  private def stageEventSlicesWithStragglers(s: SparkSession, sfDir: String,
                                             stage: String): String = {
    val sliced = eventQuartiles(s, sfDir)
      .withColumn("h", PipelineQueries.hashPermille(col("event_id"), "late"))
      .withColumn("early",
        floor((col("ms") - col("t0")) * 8 / (col("t1") - col("t0") + 1)).cast("long") % 2 === 0)
      .withColumn("arrival", col("slice") +
        when(col("h") < 100000L, 1)
          .when(col("h") < 200000L && col("early"), 2)
          .otherwise(0))
    (0 to 5).foreach { i =>
      BoundedStream.writeSlice(sliced.filter(col("arrival") === i)
        .drop("slice", "arrival", "t0", "t1", "ms", "h", "early"), s"$stage/b$i", i)
    }
    stage + "/b*/part-*.parquet"
  }

  /** Watermark late-data semantics, pinned end to end: hourly tumbling
    * counts in UPDATE mode with a 90-minute watermark over the two-tier
    * straggler staging. Spark filters late input against the
    * late-events watermark, which LAGS the eviction watermark by one
    * micro-batch (the SPARK-40025 split: during batch k the filter uses
    * max-event-time through batch k−2, minus the delay) — verified
    * empirically with numRowsDroppedByWatermark. The staging is built
    * so both outcomes occur with day-wide margins, making the oracle
    * closed-form rather than a trajectory replay:
    *   - ONE-slice stragglers are always KEPT and merged late into
    *     their window's live state: at arrival batch i+1 the late
    *     watermark is end-of-slice(i−1) − 90 min, and every slice-i
    *     row's window end is past end-of-slice(i−1) (slices span days).
    *     A lost merge (state closed too early) undercounts → hash-fail.
    *   - TWO-slice stale rows (early half of slice i, arriving batch
    *     i+2) are always DROPPED: the late watermark is then
    *     end-of-slice(i) − 90 min, half a slice (~days) past any early-
    *     half window end. A kept stale row overcounts → hash-fail.
    * The converged table (last update per window key) must therefore
    * equal the batch rollup MINUS exactly the stale class, which is
    * what the oracle computes from the hash + slice-half arithmetic.
    */
  private def runLateDataAudit(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlicesWithStragglers(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/emissions"
    val agg = eventStream(s, glob)
      .withWatermark("ts", "90 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    BoundedStream.start(agg, s"$scratch/ckpt", OutputMode.Update()) { (b, batchId) =>
      BoundedStream.appendTagged(out)(b.select(
        col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n_events")), batchId)
    }.awaitTermination()
    BoundedStream.converged(s.read.parquet(out), Seq("hour_start", "event_type"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Streaming Count-Min maintenance: the corpus arrives as the four
    * doc-id-sliced micro-batches of [[DocStream.ensureSlices]] (the LSH
    * queries' lake); each trigger folds ONLY ITS BATCH
    * into partial (row, bucket) counters and the final counters are
    * the cell-wise sum — the linearity that makes CMS the sketch of
    * choice for streams (counters merge by addition, so the slicing
    * can never change the converged sketch). The emitted table is the
    * same top-20 probe as the batch cms_frequency_audit, against the
    * same oracle: any batch-boundary effect in the maintained
    * counters would shift an estimate and hash-fail.
    */
  private def runCmsMaintain(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val docs = graft.QueryDef.t(s, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val out = s"$scratch/emissions"
    def bucketed(df: DataFrame) = df
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .select(col("tok"), explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("bucket",
        graft.functions.GraftFunctions.md5Prefix(concat(lit("cms"),
          col("j").cast("string"), lit(":"), col("tok")), 15) % 256L)
    val docStream = DocStream.read(s, DocStream.ensureSlices(s, sfDir, 1, 4))
    BoundedStream.start(docStream, s"$scratch/ckpt") { (b, _) =>
      bucketed(b).groupBy("j", "bucket").agg(count(lit(1)).as("c"))
        .write.mode("append").parquet(out)
    }.awaitTermination()
    val counters = s.read.parquet(out).groupBy("j", "bucket")
      .agg(sum("c").as("c"))
    val tc = docs.select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    tc.orderBy(col("n").desc, col("tok")).limit(20)
      .withColumnRenamed("n", "n_exact")
      .select(col("tok"), col("n_exact"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("bucket",
        graft.functions.GraftFunctions.md5Prefix(concat(lit("cms"),
          col("j").cast("string"), lit(":"), col("tok")), 15) % 256L)
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy("tok", "n_exact")
      .agg(min("c").as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Stream-STATIC dimension enrichment — the remaining core streaming
    * join shape next to stream-stream (click attribution): every
    * micro-batch joins the event stream against the static `customer`
    * dimension and the enriched rows aggregate per market segment. In a
    * real deployment the static side broadcasts once and every trigger
    * reuses it (no state store at all — the join is stateless); the
    * converged complete-mode snapshot must equal the plain batch
    * join+group, which is exactly what the oracle computes.
    */
  private def runDimEnrich(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val dim = graft.QueryDef.t(s, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(s, glob)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    BoundedStream.start(agg, s"$scratch/ckpt", OutputMode.Complete()) { (b, _) =>
      b.coalesce(1).write.mode("overwrite").parquet(resultOut)
    }.awaitTermination()
  }

  /** Streaming OHLC maintenance — argmin/argmax STATE per bar: min_by/
    * max_by aggregation state must track the (ts, event_id)-earliest and
    * -latest value per (event_type, day) correctly across micro-batch
    * boundaries (an open/close that only considered within-batch order
    * would be wrong whenever a bar spans triggers — which the 4-slice
    * staging guarantees here). Complete-mode snapshot ≡ the batch
    * ohlc_bars aggregation.
    */
  private def runOhlc(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val agg = eventStream(s, glob)
      .withColumn("day", col("ts").cast("date"))
      .groupBy("event_type", "day")
      .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_v"),
        count(lit(1)).as("n_events"))
    BoundedStream.start(agg, s"$scratch/ckpt", OutputMode.Complete()) { (b, _) =>
      b.coalesce(1).write.mode("overwrite").parquet(resultOut)
    }.awaitTermination()
  }

  /** Hopping (sliding) event-time windows over the multi-trigger stream —
    * the overlapping-window state shape: each event updates TWO window
    * states (30-min windows every 15), and the state store carries both
    * until the watermark closes them. Same complete-mode snapshot contract
    * as [[runWindowCounts]]; the oracle is the arithmetic window
    * assignment the batch `window_hopping_agg` uses.
    */
  private def runHoppingCounts(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val agg = eventStream(s, glob)
      .select("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    BoundedStream.start(agg, s"$scratch/ckpt", OutputMode.Complete()) { (b, _) =>
      b.select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .coalesce(1).write.mode("overwrite").parquet(resultOut)
    }.awaitTermination()
  }

  /** Streaming drift monitor: the per-bin reference/current histogram of
    * drift_tvd_bins maintained INCREMENTALLY across micro-batches — the
    * ingestion-time data-quality monitor that flags a shifted value
    * distribution before a bad batch lands in the lake. The state is the
    * ~10-row histogram (bounded by bin count, not data), complete-mode
    * snapshot per trigger; the exact cross-multiplied TVD terms are
    * computed on the final converged snapshot in foreachBatch and must
    * hash-equal the batch operator's oracle. The ref/current split
    * compares `ts` cast to TIMESTAMP_NTZ against an NTZ literal — the
    * SAME comparison the batch drift_tvd_bins runs — so the row split is
    * identical under ANY spark.sql.session.timeZone, not only UTC (a
    * zoned literal would silently shift rows between the histograms if a
    * runner ever unpinned the session timezone).
    */
  private def runDriftTvd(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit =
    runDriftHistogram(s, sfDir, scratch, resultOut) { withTotals =>
      withTotals.select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        abs(col("ref_cnt") * col("tot_cur") - col("cur_cnt") * col("tot_ref"))
          .as("tvd_num"),
        (col("tot_ref") * col("tot_cur") * lit(2L)).as("tvd_den"))
    }

  /** Streaming PSI over the same maintained histogram state as the TVD
    * maintainer — one incremental ref/current bin histogram serves every
    * binned drift metric; only the stateless finalizer differs (the
    * Laplace-smoothed nano-quantized PSI term, mirroring the batch
    * drift_psi_bins formula byte-for-byte).
    */
  private def runDriftPsi(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit =
    runDriftHistogram(s, sfDir, scratch, resultOut) { withTotals =>
      val pr = (col("ref_cnt") + 1L).cast("double") /
        (col("tot_ref") + 10L).cast("double")
      val pc = (col("cur_cnt") + 1L).cast("double") /
        (col("tot_cur") + 10L).cast("double")
      withTotals.select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        round((pc - pr) * log(pc / pr) * lit(1e9)).cast("long")
          .as("psi_term_nano"))
    }

  /** Shared incremental drift-histogram maintainer: complete-mode per-bin
    * ref/current counts accumulated across micro-batches, with a
    * stateless per-snapshot finalizer over the totals-joined histogram.
    */
  private def runDriftHistogram(s: SparkSession, sfDir: String, scratch: String,
      resultOut: String)(finalize: DataFrame => DataFrame): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val binned = eventStream(s, glob)
      .select(
        least(floor(col("value") / lit(50.0)), lit(9L)).cast("long").as("bin"),
        when(expr("CAST(ts AS TIMESTAMP_NTZ) < TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1L)
          .otherwise(0L).as("is_ref"))
      .groupBy("bin")
      .agg(sum(col("is_ref")).as("ref_cnt"),
        sum(lit(1L) - col("is_ref")).as("cur_cnt"))
    BoundedStream.start(binned, s"$scratch/ckpt", OutputMode.Complete()) { (b, _) =>
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      finalize(
        b.withColumn("tot_ref", sum(col("ref_cnt")).over(wAll))
          .withColumn("tot_cur", sum(col("cur_cnt")).over(wAll)))
        .coalesce(1).write.mode("overwrite").parquet(resultOut)
    }.awaitTermination()
  }

  /** Gap-based session windows (`session_window`, 30-minute gap) per user
    * over the multi-trigger event stream, APPEND output mode — the
    * bounded-state session mode (update is unsupported for session
    * aggregations: sessions can merge, which update cannot express; and
    * complete would retain all state forever). Append only emits a
    * session once the watermark passes its end, so a fifth staged slice
    * carries a single far-future sentinel event (the heartbeat/
    * punctuation pattern a real transport uses to advance event time
    * through quiet periods): it pushes the watermark past every real
    * session end, forcing each real session to be emitted exactly once,
    * then is filtered out of the result. Session state is bounded by the
    * watermark — the 100 TB contract for unbounded session streams.
    */
  /** Sentinel slice b4: one event 8h past the lake's max ts for a user id
    * that cannot occur in the data; watermark (max - 2h) ends up 6h past
    * the last real event — beyond every real session end (max + 30min) —
    * so every real session/window flushes under AvailableNow. The slice's
    * file modtime is set AFTER the four real slices so the file source
    * delivers it last. Shared by every session-windowed streaming run —
    * the 8h/2h offsets and the modtime scheme must never diverge between
    * them.
    */
  private def stageSentinelSlice(s: SparkSession, sfDir: String, stage: String,
      leadHours: Long = 8L): Unit = {
    val maxTs = graft.QueryDef.t(s, sfDir, "events")
      .agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    val sentinel = s.range(1).select(
      lit(new java.sql.Timestamp(maxTs.getTime + leadHours * 3600 * 1000)).as("ts"),
      lit("heartbeat").as("event_type"), lit(0.0).as("value"),
      lit(-1L).as("user_id"), lit(-1L).as("event_id"))
    BoundedStream.writeSlice(sentinel, s"$stage/b4", 4)
  }

  private def runSessionWindows(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val stage = s"$scratch/evlake"
    val glob = stageEventSlices(s, sfDir, stage)
    stageSentinelSlice(s, sfDir, stage)
    val out = s"$scratch/emissions"
    val agg = eventStream(s, glob)
      .select("ts", "user_id", "value")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    BoundedStream.start(agg, s"$scratch/ckpt") { (b, _) =>
      b.select(col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("session_window.end").cast("timestamp_ntz").as("session_end"),
          col("user_id"), col("n_events"), col("sum_value"))
        .write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out)
      .filter(col("user_id") =!= -1L)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Streaming twin of path_regex_funnel: session paths built ONLINE with
    * session_window + a streaming collect_list (per-session state is the
    * event-type list, merged across triggers as late panes extend the
    * session), emitted on watermark close; the pattern matching itself is
    * a stateless final pass over the emitted paths (shared with the batch
    * query via CurationQueries.funnelMatches, so batch and stream can
    * never drift on pattern semantics). Same sentinel trick as
    * runSessionWindows flushes every real session.
    */
  private def runSessionPaths(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val stage = s"$scratch/evlake"
    val glob = stageEventSlices(s, sfDir, stage)
    stageSentinelSlice(s, sfDir, stage)
    val out = s"$scratch/emissions"
    val agg = eventStream(s, glob)
      .select("ts", "user_id", "event_id", "event_type")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))), x => x.getField("event_type")), ">").as("path"))
    BoundedStream.start(agg, s"$scratch/ckpt") { (b, _) =>
      b.select(col("user_id"), col("path"))
        .write.mode("append").parquet(out)
    }.awaitTermination()
    CurationQueries.funnelMatches(
        s.read.parquet(out).filter(col("user_id") =!= -1L))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Running per-key aggregate through the Spark 4 arbitrary-state v2 API
    * ([[graft.streaming.StatefulAgg.RunningAgg]]). Update-mode emissions
    * land per batch; the converged value per key is the last emission.
    */
  private def runStatefulAgg(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/emissions"
    val updates = eventStream(s, glob)
      .select(col("user_id"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StatefulAgg.RunningAgg,
        TimeMode.None(), OutputMode.Update())
    BoundedStream.startStateful(updates, s"$scratch/ckpt")(
      BoundedStream.appendTagged(out)).awaitTermination()
    BoundedStream.converged(s.read.parquet(out), Seq("user_id"))
      .select("user_id", "n_events", "sum_cents")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Event-time-timer window finalization — see
    * [[graft.streaming.StatefulAgg.DayCloser]]. Append-mode emissions
    * happen only in `handleExpiredTimer`, driven by the watermark; the
    * sentinel slice leads by 60 h (not the default 8) because a day-end
    * timer can sit up to 24 h past the last real event and the watermark
    * must clear it by another 2 h before the stream ends.
    */
  private def runTimerDayClose(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val stage = s"$scratch/evlake"
    val glob = stageEventSlices(s, sfDir, stage)
    stageSentinelSlice(s, sfDir, stage, leadHours = 60L)
    val out = s"$scratch/emissions"
    val closes = eventStream(s, glob)
      .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
        expr("CAST(unix_date(CAST(ts AS DATE)) AS BIGINT)").as("dnum"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("dnum"), col("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StatefulAgg.DayCloser,
        TimeMode.EventTime(), OutputMode.Append())
    BoundedStream.startStateful(closes, s"$scratch/ckpt") { (b, _) =>
      b.write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out)
      .filter(col("user_id") =!= -1L)
      .select("user_id", "dnum", "n_events", "sum_cents")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** STATE-SIZE / TTL AUDIT over the DayCloser pipeline (VERDICT r11
    * task #7): the 100 TB streaming failure mode is state that outlives
    * its watermark, so this run re-derives, PER MICRO-BATCH, the exact
    * number of open (user, day) state entries from two independent
    * ledgers and asserts they agree:
    *   - accounting: open = distinct (user, day) pairs delivered so far
    *     − cumulative timer emissions (DayCloser creates an entry on
    *     first sight and deletes it exactly at emission, so this IS the
    *     state row count);
    *   - watermark bound: pairs whose day-end exceeds the eviction
    *     watermark the batch ran with (max event-time of PRIOR batches
    *     − 2 h; AvailableNow appends a no-data batch that applies the
    *     final watermark).
    * `leak = open − bound` must be 0 on every row — state lingering past
    * its watermark (a missed timer) or evicted early (a premature fire)
    * breaks the equality and hash-fails against the batch replay, which
    * recomputes both ledgers from the raw events with the same quartile
    * slicing arithmetic. No sentinel slice here: the last days legally
    * stay open, and the audit's final row reports exactly how many.
    */
  private def runStateTtlAudit(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val stage = s"$scratch/evlake"
    val glob = stageEventSlices(s, sfDir, stage)
    val out = s"$scratch/emissions"
    val closes = eventStream(s, glob)
      .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
        // tz-independent day key (floor of epoch ms), so the key and
        // the DayCloser timer boundary share one clock by construction
        // (ADVICE r11; equals unix_date under the pinned UTC session)
        expr("CAST(floor(unix_millis(ts) / 86400000) AS BIGINT)").as("dnum"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("dnum"), col("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StatefulAgg.DayCloser,
        TimeMode.EventTime(), OutputMode.Append())
    BoundedStream.startStateful(closes, s"$scratch/ckpt")(
      BoundedStream.appendTagged(out)).awaitTermination()
    // batch replay of both ledgers from the staged slices
    val sliced = (0 until 4).map { i =>
      s.read.parquet(s"$stage/b$i").withColumn("slice", lit(i))
    }.reduce(_ unionByName _)
      .select(col("user_id"),
        expr("CAST(floor(unix_millis(CAST(ts AS TIMESTAMP)) / 86400000) AS BIGINT)")
          .as("dnum"),
        expr("unix_millis(CAST(ts AS TIMESTAMP))").as("ms"), col("slice"))
      .localCheckpoint(true)
    // batches 0..3 consume slice b; batch 4 is AvailableNow's no-data
    // finalization batch (applies the watermark of all four slices)
    val batches = s.range(0, 5).select(col("id").cast("long").as("batch_id"))
    val perBatch = batches.crossJoin(sliced)
      .filter(col("slice") <= least(col("batch_id"), lit(3)))
      .groupBy("batch_id")
      .agg(countDistinct(col("user_id"), col("dnum")).as("seen_pairs"))
    // eviction watermark of batch b = max event ms over batches < b − 2h
    val wms = batches.crossJoin(sliced)
      .filter(col("slice") <= least(col("batch_id") - 1, lit(3)))
      .groupBy("batch_id")
      .agg((max(col("ms")) - lit(7200000L)).as("wm_ms"))
    val bound = batches.crossJoin(sliced)
      .filter(col("slice") <= least(col("batch_id"), lit(3)))
      .select(col("batch_id"), col("user_id"), col("dnum")).distinct()
      .join(wms, Seq("batch_id"), "left")
      .filter(col("wm_ms").isNull || (col("dnum") + 1) * 86400000L > col("wm_ms"))
      .groupBy("batch_id").agg(count(lit(1)).as("wm_bound"))
    val emitted = s.read.parquet(out).filter(col("user_id") =!= -1L)
      .groupBy("batch_id").agg(count(lit(1)).as("n_closed"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy("batch_id").rowsBetween(Long.MinValue, 0)
    batches
      .join(emitted, Seq("batch_id"), "left")
      .select(col("batch_id"), coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("closed_cum", sum(col("n_closed")).over(wCum))
      .join(perBatch, Seq("batch_id"))
      .join(bound, Seq("batch_id"))
      .select(col("batch_id"), col("n_closed"), col("closed_cum"),
        col("seen_pairs"),
        (col("seen_pairs") - col("closed_cum")).as("open_state"),
        col("wm_bound"),
        (col("seen_pairs") - col("closed_cum") - col("wm_bound")).as("leak"))
      .orderBy("batch_id")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Exact distinct-user maintenance on MapState — see
    * [[graft.streaming.StatefulAgg.DistinctUsers]]. Update-mode
    * emissions per batch; converged value per key is the last emission.
    */
  private def runDistinctMaintain(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/emissions"
    val updates = eventStream(s, glob)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StatefulAgg.DistinctUsers,
        TimeMode.None(), OutputMode.Update())
    BoundedStream.startStateful(updates, s"$scratch/ckpt")(
      BoundedStream.appendTagged(out)).awaitTermination()
    BoundedStream.converged(s.read.parquet(out), Seq("event_type"))
      .select("event_type", "n_distinct")
      .orderBy("event_type")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Bounded last-N list maintenance on ListState — see
    * [[graft.streaming.StatefulAgg.LastNEvents]].
    */
  private def runLastN(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/emissions"
    val updates = eventStream(s, glob)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StatefulAgg.LastNEvents,
        TimeMode.None(), OutputMode.Update())
    BoundedStream.startStateful(updates, s"$scratch/ckpt")(
      BoundedStream.appendTagged(out)).awaitTermination()
    BoundedStream.converged(s.read.parquet(out), Seq("user_id"))
      .select("user_id", "last3")
      .orderBy("user_id")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Mergeable-HLL distinct maintenance: per micro-batch, one sketch per
    * event type lands in the emissions lake; the converged estimate is
    * the UNION of all batch sketches — register-max merging is
    * order-independent, so any trigger slicing converges to the same
    * registers as a single batch aggregation. This is the streaming leg
    * of hll_mergeable_daily_union's architecture (CMS has
    * streaming_cms_maintain; this is the distinct-count sibling).
    */
  private def runHllMaintain(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/emissions"
    BoundedStream.start(eventStream(s, glob), s"$scratch/ckpt") { (b, batchId) =>
      b.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(out)
    }.awaitTermination()
    val merged = s.read.parquet(out)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = false)).as("est"))
    val exact = graft.QueryDef.t(s, sfDir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") <=
          greatest(col("n_exact").cast("double") * 0.05, lit(20.0)))
          .as("within_tol"))
      .orderBy("event_type")
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Retract-stream (changelog) maintenance of a grouped aggregate — see
    * [[graft.streaming.StatefulAgg.ChangelogAgg]]. The per-entity state
    * emits ±delta rows against the entity's current group; the converged
    * downstream SUM of deltas per group must equal the batch
    * recompute-from-scratch (the streaming sibling of `ivm_delta_agg`).
    */
  private def runChangelogAgg(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    import s.implicits._
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/deltas"
    val deltas = eventStream(s, glob)
      .select(col("user_id"), col("event_id"), col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StatefulAgg.ChangelogAgg,
        TimeMode.None(), OutputMode.Append())
    BoundedStream.startStateful(deltas, s"$scratch/ckpt") { (b, _) =>
      b.write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out)
      .groupBy("grp")
      .agg(sum(col("dn")).as("n_entities"), sum(col("dcents")).as("sum_cents"))
      .filter(col("n_entities") > 0)
      .select(col("grp").as("event_type"), col("n_entities"), col("sum_cents"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Stream-stream interval join over two unbounded inputs (views and
    * clicks carved from the same multi-trigger event stream): each click
    * attributes to every view by the same user in the preceding 30
    * minutes. StreamingSymmetricHashJoin keeps both sides' state bounded
    * by the watermark + interval — the 100 TB contract — and an inner
    * join emits each match exactly once across triggers, so the
    * accumulated emissions must equal the batch join.
    */
  private def runStreamJoin(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val glob = stageEventSlices(s, sfDir, s"$scratch/evlake")
    val out = s"$scratch/matches"
    val views = eventStream(s, glob).filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val clicks = eventStream(s, glob).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("interval 30 minutes"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"))
    BoundedStream.start(joined, s"$scratch/ckpt") { (b, _) =>
      b.write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out).coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** LEFT OUTER stream-stream interval join: every view emits — matched
    * pairs as they join, UNMATCHED views as (view_id, NULL) once the
    * global watermark proves no click can still arrive. The semantics the
    * inner join (runStreamJoin) cannot express: state eviction itself is
    * an OUTPUT. Outer emission needs a micro-batch to EXECUTE while the
    * watermark already exceeds the row's expiry (wm is computed from the
    * PREVIOUS batch's data), so the lake is staged with three far-future
    * sentinel slices after the four real ones: a +100 h view advances the
    * view-side watermark, a +110 h click advances the click side (the
    * global wm is the MIN of the sides), and a final +100 h +1 min view
    * gives that watermark a batch to emit in. The sentinels use negative
    * user_ids (no real match) and their own expiries sit ABOVE the final
    * watermark, so none of the three can reach the output — the converged
    * result is exactly the batch LEFT JOIN over real events.
    */
  private def runStreamLeftJoin(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val stage = s"$scratch/evlake"
    val glob = stageEventSlices(s, sfDir, stage)
    val t1 = graft.QueryDef.t(s, sfDir, "events")
      .agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0).getTime
    Seq(
      (4, "view", -1L, t1 + 100L * 3600 * 1000),
      (5, "click", -2L, t1 + 110L * 3600 * 1000),
      (6, "view", -3L, t1 + 100L * 3600 * 1000 + 60000L)
    ).foreach { case (i, typ, uid, ms) =>
      BoundedStream.writeSlice(s.range(1).select(
          timestamp_millis(lit(ms)).as("ts"), lit(typ).as("event_type"),
          lit(0.0).as("value"), lit(uid).as("user_id"), lit(-i.toLong).as("event_id")),
        s"$stage/b$i", i)
    }
    val out = s"$scratch/matches"
    val views = eventStream(s, glob).filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val clicks = eventStream(s, glob).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = views.join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"),
        "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"))
    BoundedStream.start(joined, s"$scratch/ckpt") { (b, _) =>
      b.write.mode("append").parquet(out)
    }.awaitTermination()
    s.read.parquet(out).filter(col("user_id") >= 0)
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Streaming LSH dedup AT INGEST — the 100 TB streaming-corpus shape:
    * every arriving document is fingerprinted by the codegen MinHash
    * kernel, exploded to its 8 band digests, and each band consults an
    * O(distinct-bands) RocksDB state for its owner (minimum doc_id seen).
    * A document flagged on ≥1 band has a near-duplicate already in the
    * corpus. The per-band running-minimum makes the emission independent
    * of micro-batch boundaries (see [[graft.streaming.StatefulAgg.BandOwner]]),
    * so the converged flags equal the batch first-seen-per-band replay
    * the oracle computes. The batch sibling is dedup_incremental_newbatch
    * (probe of a static index); this is the continuous leg.
    *
    * With `horizonDocs` it is the TTL'd sibling (VERDICT r16 task #2): the
    * band state is [[graft.streaming.StatefulAgg.BandOwnerTtl]] —
    * horizon-bounded run semantics with event-time-timer deletion, so
    * state is O(bands in the trailing horizon) instead of O(all bands
    * ever). doc_id is the event clock (ts = timestamp_seconds(doc_id), 0 s
    * watermark): on the doc_id-monotone staged stream the watermark is
    * exactly "every future arrival is past this id", which is what makes
    * timer deletion output-invariant and the whole leg batch-replayable by
    * a LAG window.
    *
    * Both run the one band-owner stream ([[DocStream.startBandOwner]])
    * over the corpus's four doc_id-quartile slices, folded to the
    * per-document duplicate counts.
    */
  private def runLshDedup(s: SparkSession, sfDir: String, scratch: String, resultOut: String,
                          horizonDocs: Option[Long]): Unit = {
    DocStream.startBandOwner(s, DocStream.ensureSlices(s, sfDir, 1, 4), horizonDocs, scratch)
      .awaitTermination()
    DocStream.dupCounts(s.read.parquet(s"$scratch/flags"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** Incremental SCD2 over the DRIFTED envelope lake (VERDICT r16 task
    * #5): mid-stream, envelopes gain a `category` key with no schema
    * event (`include.schema.changes=false` — the reference's configured
    * behavior). The stream declares the WIDE schema
    * ([[EnvelopeQueries.productsRowV2]]) for the whole lake, so gen1
    * envelopes parse the missing key as NULL silently, and the drifted
    * attribute rides the per-key state (`KeyEvent.attrs`) through real
    * micro-batch boundaries. The converged chain — validity intervals
    * AND the category value per version — must equal the batch rebuild
    * over the unioned lake.
    */
  private def runScd2SchemaDrift(s: SparkSession, sfDir: String, scratch: String, resultOut: String): Unit = {
    val dir = EnvelopeQueries.buildDriftLake(s)
    // the drifted attr must surface NULL for every gen1 version and the
    // generated value for gen2
    runIncrementalScd2(s, scratch, Scd2Streaming.readEnvelopeStream(
      s, dir + "/gen*/part-*", EnvelopeQueries.productsRowV2, maxFilesPerTrigger = 1),
      Seq("name", "category"))
      .select(col("id"), col("lsn").as("log_seq_num"),
        element_at(col("attrs"), "category").as("category"),
        col("rowValidStartMs").as("valid_from_ms"),
        col("rowValidExpirationMs").as("valid_to_ms"))
      .coalesce(1).write.mode("overwrite").parquet(resultOut)
  }

  /** The dedup horizon of the TTL'd at-ingest leg, in doc_ids (= arrival
    * positions): a document is flagged only against band-sharers within
    * the trailing 100 arrivals. Shared between the Spark pipeline and the
    * DuckDB oracle text. At sf0.01 the corpus has 62 band re-arrivals
    * inside this horizon and 120 beyond it, so the TTL semantics
    * measurably diverge from the unbounded first-seen form — the oracle
    * would hash-fail if the horizon were silently ignored.
    */
  private[operators] val LshTtlHorizonDocs = 100L

  val defs: Seq[QueryDef] = Seq(

    // The converged gap-session set must equal the batch gaps-and-islands
    // sessionization. session_window semantics: events merge when the gap
    // is STRICTLY under 30 minutes (windows [t, t+30) merge on overlap),
    // so the oracle starts a new session at gap >= 30 min; session end is
    // last event + gap. A state-eviction or merge bug across triggers
    // hash-fails.
    cached("streaming_session_windows", runSessionWindows,
      """WITH e AS (
             |  SELECT user_id, ts, value,
             |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
             |  FROM events),
             |m AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN prev_ts IS NULL
             |         OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM sess GROUP BY user_id, sid""".stripMargin),

    // The streamed session-path funnel must emit the batch funnel's
    // pattern counts exactly, under session_window's >=30min gap rule
    // (session_window closes a session when the NEXT event is at or past
    // gap — the `>=` split below; the batch path_regex_funnel's lag rule
    // is strict `>`, indistinguishable at microsecond timestamps but
    // pinned faithfully here). A session whose path is emitted before a
    // late pane extends it, or split across triggers, hash-fails.
    cached("streaming_path_funnel", runSessionPaths,
      """WITH e AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |m AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN prev_ts IS NULL
             |         OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |sess AS (
             |  SELECT user_id, event_type, ts, event_id,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m),
             |paths AS (
             |  SELECT user_id, sid,
             |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
             |  FROM sess GROUP BY user_id, sid),
             |agg AS (
             |  SELECT count(*) AS n_sessions,
             |    CAST(sum(CASE WHEN regexp_matches(path, '^signup') THEN 1 ELSE 0 END) AS BIGINT) AS m_signup_first,
             |    CAST(sum(CASE WHEN regexp_matches(path, 'view>.*purchase') THEN 1 ELSE 0 END) AS BIGINT) AS m_view_to_purchase,
             |    CAST(sum(CASE WHEN regexp_matches(path, 'error>.*error') THEN 1 ELSE 0 END) AS BIGINT) AS m_repeated_errors,
             |    CAST(sum(CASE WHEN regexp_matches(path, 'purchase$') THEN 1 ELSE 0 END) AS BIGINT) AS m_ends_in_purchase
             |  FROM paths)
             |SELECT p.pattern, agg.n_sessions, p.n_match,
             |  CAST(p.n_match AS DOUBLE) / CAST(agg.n_sessions AS DOUBLE) AS match_rate
             |FROM agg, (
             |  SELECT 'signup_first' AS pattern, m_signup_first AS n_match FROM agg
             |  UNION ALL SELECT 'view_to_purchase', m_view_to_purchase FROM agg
             |  UNION ALL SELECT 'repeated_errors', m_repeated_errors FROM agg
             |  UNION ALL SELECT 'ends_in_purchase', m_ends_in_purchase FROM agg) p
             |ORDER BY p.pattern""".stripMargin),

    // Exactly-once recovery from at-least-once redelivery: the deduped
    // stream must equal the original event set row-for-row — a surviving
    // duplicate (state evicted too early) or a dropped original (overeager
    // dedup, late-drop) hash-fails against the plain table.
    cached("streaming_exactly_once_dedup", runAtLeastOnceDedup,
      "SELECT event_id, user_id, ts, event_type, value FROM events"),

    // The streamed inner interval join must emit exactly the batch join's
    // match set — a dropped or duplicated match (state eviction bug,
    // cross-trigger replay) hash-fails.
    cached("streaming_click_attribution", runStreamJoin,
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
             |FROM events v JOIN events c
             |  ON v.user_id = c.user_id
             | AND v.event_type = 'view' AND c.event_type = 'click'
             | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin),

    // LEFT OUTER stream-stream interval join: unmatched views must ALSO
    // emit — as (view_id, NULL) — exactly once, when the watermark proves
    // no click can still arrive. The converged emissions must equal the
    // batch LEFT JOIN row-for-row: a null row for a view that actually
    // matched, a missing null row (state evicted silently), or a double
    // emission all hash-fail. See runStreamLeftJoin for how sentinel
    // slices make the outer flush deterministic under AvailableNow.
    cached("streaming_left_join_outer", runStreamLeftJoin,
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
             |FROM events v LEFT JOIN events c
             |  ON v.user_id = c.user_id AND c.event_type = 'click'
             | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
             |WHERE v.event_type = 'view'""".stripMargin),

    // Streaming LSH dedup at ingest: per-band owner state flags every
    // arriving document that shares a MinHash band with an earlier one.
    // The converged (doc, n_dup_bands, is_duplicate) set must equal the
    // batch first-seen-per-band replay — a state loss (flag missing), a
    // batch-boundary dependence (flag flipped), or a band-key collision
    // bug all hash-fail. See runLshDedup / StatefulAgg.BandOwner.
    cached("streaming_lsh_dedup_ingest", runLshDedup(_, _, _, _, None),
      s"""${DedupQueries.candidatesCte},
              |firsts AS (SELECT band, min(doc_id) AS first_doc
              |           FROM bands GROUP BY band)
              |SELECT b.doc_id,
              |  CAST(sum(CASE WHEN f.first_doc < b.doc_id THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_dup_bands,
              |  bool_or(f.first_doc < b.doc_id) AS is_duplicate
              |FROM bands b JOIN firsts f USING (band)
              |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),

    // HORIZON-bounded streaming LSH dedup (VERDICT r16 task #2): the
    // unbounded leg above holds one state row per band EVER seen — the
    // correct first-seen semantics, but its RocksDB footprint grows
    // linearly with the corpus forever. This leg pins the production
    // mitigation: a document is deduped only against band-sharers within
    // the trailing 100 arrivals (BandOwnerTtl — lazy run-reset for the
    // semantics, event-time-timer deletion for the footprint). The
    // recall loss is EXACTLY the out-of-horizon re-arrivals (120 of the
    // corpus's 182 band repeats at sf0.01 — quantified, not waved at),
    // and the oracle is a plain LAG window: dup ⇔ the previous arrival
    // of the band is within the horizon. A TTL that evicted early (flag
    // lost inside the horizon), fired late INTO the semantics (flag kept
    // past it), or depended on batch boundaries hash-fails.
    cached("streaming_lsh_dedup_ttl", runLshDedup(_, _, _, _, Some(LshTtlHorizonDocs)),
      s"""${DedupQueries.candidatesCte},
              |seqd AS (SELECT doc_id, band,
              |           LAG(doc_id) OVER (PARTITION BY band ORDER BY doc_id)
              |             AS prev_doc
              |         FROM bands)
              |SELECT doc_id,
              |  CAST(sum(CASE WHEN prev_doc IS NOT NULL
              |                 AND doc_id - prev_doc <= $LshTtlHorizonDocs
              |            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_bands,
              |  bool_or(prev_doc IS NOT NULL
              |          AND doc_id - prev_doc <= $LshTtlHorizonDocs) AS is_duplicate
              |FROM seqd GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Watermarked tumbling windows fed by a genuinely multi-trigger stream
    // must converge to the batch aggregate — same oracle text shape as the
    // batch window_tumbling_agg row, so a state-carry or window-assignment
    // bug in the streaming path hash-fails independently of the batch one.
    cached("streaming_window_counts", runWindowCounts,
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),

    // Streaming HOPPING windows == the batch window_hopping_agg semantics:
    // every event maintains two overlapping window states across real
    // micro-batches; a state-carry or double-assignment bug (an event
    // counted once, or thrice, across the overlap) hash-fails against the
    // arithmetic oracle.
    cached("streaming_hopping_counts", runHoppingCounts,
      """SELECT make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
             |    AS window_start,
             |  event_type, count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events, unnest([0, 1]) AS hop(k)
             |GROUP BY 1, 2""".stripMargin),

    // Streaming drift monitor == the batch drift_tvd_bins: the bounded
    // per-bin histogram state must accumulate correctly across real
    // micro-batches, and the converged snapshot's exact TVD integers
    // hash-check against the same oracle as the batch operator.
    // Same maintained histogram state, PSI finalizer: the converged
    // streaming snapshot's Laplace-smoothed nano-quantized PSI terms
    // must equal the batch drift_psi_bins oracle exactly — a histogram
    // state divergence across micro-batches shifts a count by one and
    // hash-fails the nano-quantized term.
    cached("streaming_drift_psi", runDriftPsi,
      """WITH ev AS (
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
             |FROM tt""".stripMargin),

    cached("streaming_drift_tvd", runDriftTvd,
      """WITH ev AS (
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
             |FROM tt""".stripMargin),

    // Streaming OHLC == the batch bars: argmin/argmax aggregation state
    // must merge correctly across micro-batches (bars span triggers).
    cached("streaming_ohlc_snapshot", runOhlc,
      """WITH r AS (
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
             |FROM r GROUP BY 1, 2""".stripMargin),

    // Stream-static enrichment == the batch join+group: the stateless
    // per-trigger dimension join must not drop, duplicate, or misroute
    // any event across micro-batches.
    cached("streaming_dim_enrich", runDimEnrich,
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1, 2""".stripMargin),

    // Streaming first-seen dedup == its batch replay: the winner per
    // fingerprint is the doc from the earliest micro-batch containing that
    // fingerprint (min id within the batch) — the oracle replays the
    // batch-order semantics with a window. Any state-carry bug across
    // triggers (duplicate emitted twice, wrong canonical) hash-fails.
    cached("streaming_dedup_firstseen", runFirstSeenDedup,
      """WITH h AS (
             |  SELECT doc_id,
             |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
             |    doc_id % 4 AS b
             |  FROM documents)
             |SELECT keep_id, content_hash FROM (
             |  SELECT content_hash, doc_id AS keep_id,
             |    ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY b, doc_id) AS rn
             |  FROM h) WHERE rn = 1""".stripMargin),

    // The transformWithState running aggregate must converge to the batch
    // GROUP BY — integer-cents state keeps the comparison exact; a state
    // row lost across triggers (or a double-applied batch) hash-fails.
    cached("streaming_stateful_agg", runStatefulAgg,
      """SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY user_id""".stripMargin),

    // EVENT-TIME TIMER window finalization (StatefulAgg.DayCloser): each
    // (user, day) emits EXACTLY ONCE, when the watermark passes day end —
    // the timer leg of state v2. The emission set must equal the batch
    // per-(user, day) rollup: a timer that fires early (incomplete day),
    // never fires (last days unflushed — the sentinel lead exists for
    // this), or double-fires after a replay hash-fails against the plain
    // GROUP BY oracle.
    cached("streaming_timer_day_close", runTimerDayClose,
      """SELECT user_id,
             |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
             |    AS dnum,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             |    AS sum_cents
             |FROM events GROUP BY 1, 2""".stripMargin),

    // State-size/TTL audit (see runStateTtlAudit): per micro-batch, the
    // open-state accounting (seen pairs − timer emissions) must equal
    // the watermark-implied bound — `leak` must be 0 on all five rows.
    // The oracle replays both ledgers from the raw events with the same
    // quartile-slicing and previous-batch-watermark arithmetic; a timer
    // that fires early, late, or twice shifts n_closed into the wrong
    // batch row and hash-fails.
    cached("streaming_state_ttl_audit", runStateTtlAudit,
      """WITH ev AS (
             |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
             |    CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 86400000) AS BIGINT) AS dnum
             |  FROM events),
             |bnd AS (SELECT min(ms) AS t0, max(ms) AS t1 FROM ev),
             |sliced AS (
             |  SELECT user_id, dnum, ms,
             |    least(3, CAST(floor((ms - t0) * 4 / (t1 - t0 + 1)) AS INT)) AS slice
             |  FROM ev, bnd),
             |pairs AS (
             |  SELECT user_id, dnum, min(slice) AS first_slice,
             |    (dnum + 1) * 86400000 AS day_end
             |  FROM sliced GROUP BY user_id, dnum),
             |batches AS (SELECT batch_id FROM range(0, 5) t(batch_id)),
             |wm AS (
             |  SELECT batch_id,
             |    (SELECT max(ms) FROM sliced WHERE slice <= least(batch_id - 1, 3))
             |      - 7200000 AS wm_ms
             |  FROM batches),
             |led AS (
             |  SELECT b.batch_id,
             |    CAST(count(*) FILTER (WHERE p.first_slice <= least(b.batch_id, 3))
             |      AS BIGINT) AS seen_pairs,
             |    CAST(count(*) FILTER (WHERE p.first_slice <= least(b.batch_id, 3)
             |      AND w.wm_ms IS NOT NULL AND p.day_end <= w.wm_ms)
             |      AS BIGINT) AS closed_cum
             |  FROM batches b, wm w, pairs p
             |  WHERE b.batch_id = w.batch_id
             |  GROUP BY b.batch_id)
             |SELECT CAST(batch_id AS BIGINT) AS batch_id,
             |  CAST(closed_cum - lag(closed_cum, 1, 0) OVER (ORDER BY batch_id)
             |    AS BIGINT) AS n_closed,
             |  closed_cum, seen_pairs,
             |  seen_pairs - closed_cum AS open_state,
             |  seen_pairs - closed_cum AS wm_bound,
             |  CAST(0 AS BIGINT) AS leak
             |FROM led ORDER BY batch_id""".stripMargin),

    // The batch-sketch union must converge to the corpus distinct count
    // within the lgK=14 tolerance regardless of trigger slicing — a
    // dropped batch sketch or a non-merged register undercounts and
    // flips the boolean against the exact recompute.
    cached("streaming_hll_maintain", runHllMaintain,
      """SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             |  TRUE AS within_tol
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // The ListState last-N maintainer must converge to the batch top-3
    // per user — a list that grows past N, loses an entry across
    // triggers, or double-appends a replayed event produces a different
    // joined string and hash-fails.
    cached("streaming_lastn_events", runLastN,
      """WITH r AS (
             |  SELECT user_id, event_id, event_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC)
             |      AS rn
             |  FROM events)
             |SELECT user_id,
             |  string_agg(CAST(event_id AS VARCHAR) || ':' || event_type, '|'
             |             ORDER BY event_id DESC) AS last3
             |FROM r WHERE rn <= 3 GROUP BY user_id ORDER BY user_id""".stripMargin),

    // The MapState distinct maintainer must converge to the batch
    // COUNT(DISTINCT) per event type — a membership probe that misses
    // RocksDB state across triggers double-counts a returning user, a
    // lost count ValueState undercounts; either hash-fails against the
    // exact batch recompute.
    cached("streaming_distinct_maintain", runDistinctMaintain,
      """SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // The retract-stream grouped aggregate must converge to the batch
    // per-current-group recompute: a missing retraction leaves an entity
    // double-counted in its previous group, a double-applied batch or a
    // replay that slips the LSN guard breaks the count — each hash-fails.
    cached("streaming_changelog_agg", runChangelogAgg,
      """WITH cur AS (
             |  SELECT user_id, arg_max(event_type, event_id) AS event_type,
             |    arg_max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), event_id) AS cents
             |  FROM events GROUP BY user_id)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_entities,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM cur GROUP BY event_type""".stripMargin),

    // The lake-persisted current-state maintainer must converge to the
    // batch last-change-per-key — a dropped upsert, a stale generation
    // served, or a within-batch argmax picking the wrong event hash-fails
    // (same oracle shape as the batch scd2_current row, so the streaming
    // maintenance is checked independently of the batch window).
    cached("streaming_current_state", runCurrentState,
      """SELECT user_id, event_id, event_type, value, ts
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
             |      FROM events) WHERE rn = 1""".stripMargin),

    // Streaming ≡ batch, full history: the converged history of the
    // incremental stream, each attribute cast back from the state's string
    // map to its products-row type, must equal the reference's batch SCD2
    // over the full lake — the SAME oracle text as cdc_envelope_scd2, so
    // any divergence between the incremental maintenance and the batch
    // semantics hash-fails here.
    streamed("streaming_scd2_rebuild",
      (s, d) => scd2Converged(s, d).select(col("id") +:
        ProductAttrs.map(f => col("attrs")(f.name).cast(f.dataType).as(f.name)) :+
        timestamp_millis(col("rowValidStartMs")).cast("timestamp_ntz")
          .as("row_valid_start_timestamp") :+
        timestamp_millis(col("rowValidExpirationMs")).cast("timestamp_ntz")
          .as("row_valid_expiration_timestamp"): _*),
      EnvelopeQueries.scd2HistoryOracleSql),

    // Streaming ≡ batch, validity chain: the converged (id, lsn) chain of
    // the same run must equal the batch window over the same events.
    // Millisecond-integer intervals keep the compare exact and attr-free
    // (attrs are checked by streaming_scd2_rebuild above).
    streamed("streaming_scd2_incremental",
      (s, d) => scd2Converged(s, d).select(col("id"), col("lsn").as("log_seq_num"),
        col("rowValidStartMs").as("valid_from_ms"),
        col("rowValidExpirationMs").as("valid_to_ms")),
      s"""WITH ev AS (
         |  SELECT
         |    COALESCE(
         |      CAST(json_extract(json, '$$.payload.after.id') AS INT),
         |      CAST(json_extract(json, '$$.payload.before.id') AS INT)) AS id,
         |    CAST(json_extract(json, '$$.payload.source.lsn') AS BIGINT) AS log_seq_num,
         |    CAST(json_extract(json, '$$.payload.ts_ms') AS BIGINT) AS ts_ms
         |  FROM read_ndjson_objects('${EnvelopeQueries.LakeDir}/part-*')
         |  WHERE json_extract(json, '$$.payload.op') IS NOT NULL)
         |SELECT id, log_seq_num, ts_ms AS valid_from_ms,
         |  COALESCE(
         |    LEAD(ts_ms) OVER (PARTITION BY id ORDER BY log_seq_num),
         |    ${Scd2Streaming.SentinelMs}) AS valid_to_ms
         |FROM ev WHERE id IS NOT NULL""".stripMargin),

    // SCHEMA-DRIFT sibling of the incremental query (VERDICT r16 task
    // #5): the envelope stream gains a `category` key mid-stream with no
    // schema event; the wide-schema reader must fill gen1's missing key
    // with NULL silently and carry the drifted attribute through per-key
    // state. The converged chain — intervals and the category value per
    // (id, lsn) version — must equal the batch rebuild over the unioned
    // two-generation lake: an eager schema union, a dropped late column,
    // or state that loses the new attr across triggers all hash-fail.
    cached("streaming_scd2_schema_drift", runScd2SchemaDrift,
      s"""WITH ev AS (
         |  SELECT
         |    COALESCE(
         |      CAST(json_extract(json, '$$.payload.after.id') AS INT),
         |      CAST(json_extract(json, '$$.payload.before.id') AS INT)) AS id,
         |    CAST(json_extract(json, '$$.payload.source.lsn') AS BIGINT) AS log_seq_num,
         |    CAST(json_extract(json, '$$.payload.ts_ms') AS BIGINT) AS ts_ms,
         |    json_extract_string(json, '$$.payload.after.category') AS category
         |  FROM read_ndjson_objects('${EnvelopeQueries.DriftLakeDir}/gen*/part-*')
         |  WHERE json_extract(json, '$$.payload.op') IS NOT NULL)
         |SELECT id, log_seq_num, category, ts_ms AS valid_from_ms,
         |  COALESCE(
         |    LEAD(ts_ms) OVER (PARTITION BY id ORDER BY log_seq_num),
         |    ${Scd2Streaming.SentinelMs}) AS valid_to_ms
         |FROM ev WHERE id IS NOT NULL""".stripMargin),

    // Streaming CMS == batch CMS: the linear-sketch maintenance
    // contract (counters merge by addition, so micro-batch slicing can
    // never change the converged sketch) checked against the SAME
    // oracle as the batch cms_frequency_audit.
    cached("streaming_cms_maintain", runCmsMaintain,
      """WITH tc AS (
             |  SELECT tok, count(*) AS n
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok),
             |cells AS (
             |  SELECT j,
             |    CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT) % 256 AS bucket,
             |    n
             |  FROM (SELECT tok, n, unnest(range(0, 4)) AS j FROM tc)),
             |counters AS (
             |  SELECT j, bucket, CAST(sum(n) AS BIGINT) AS c
             |  FROM cells GROUP BY j, bucket),
             |topk AS (
             |  SELECT tok, CAST(n AS BIGINT) AS n_exact
             |  FROM tc ORDER BY n DESC, tok LIMIT 20),
             |probe AS (
             |  SELECT tok, n_exact, j,
             |    CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT) % 256 AS bucket
             |  FROM (SELECT tok, n_exact, unnest(range(0, 4)) AS j FROM topk))
             |SELECT p.tok, p.n_exact, min(c.c) AS n_est,
             |  min(c.c) - p.n_exact AS overcount
             |FROM probe p JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
             |GROUP BY p.tok, p.n_exact
             |ORDER BY n_exact DESC, tok""".stripMargin),

    // Watermark LATE-DATA semantics — the one streaming behavior the
    // rest of the suite deliberately avoids (complete-mode snapshots
    // and generous watermarks never discard a row): hourly update-mode
    // counts over the two-tier straggler staging with a 90-minute
    // watermark. One-slice stragglers MUST be merged late into their
    // windows across micro-batches; two-slice stale rows MUST be
    // dropped by the late-events watermark (see runLateDataAudit's
    // Scaladoc for the margin argument that makes both outcomes exact).
    // The oracle is the batch rollup minus precisely the stale class.
    cached("streaming_late_data_audit", runLateDataAudit,
      s"""WITH bounds AS (
              |  SELECT min(epoch_us(ts) // 1000) AS t0, max(epoch_us(ts) // 1000) AS t1
              |  FROM events),
              |kept AS (
              |  SELECT date_trunc('hour', ts) AS hour_start, event_type
              |  FROM events CROSS JOIN bounds
              |  WHERE NOT ((${PipelineQueries.hashSqlExpr("event_id", "late")}) >= 100000
              |    AND (${PipelineQueries.hashSqlExpr("event_id", "late")}) < 200000
              |    AND CAST(floor(CAST((epoch_us(ts) // 1000 - t0) * 8 AS DOUBLE)
              |          / CAST(t1 - t0 + 1 AS DOUBLE)) AS BIGINT) % 2 = 0))
              |SELECT hour_start, event_type, count(*) AS n_events
              |FROM kept GROUP BY 1, 2""".stripMargin))
}
