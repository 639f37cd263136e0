package graft.streaming

import graft.cdc.{CdcSchemas, Scd2}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** Streaming SCD2 (SURVEY.md §2.8, §7.2 step 6).
  *
  * The reference's compute is a batch rebuild re-run over the whole lake
  * (duckdb/Dockerfile:8-9 runs transform_scd2.py once per container start);
  * its *transport* is continuous (Debezium → Kafka → S3). We provide two
  * incremental modes, numbered after mode 1, the reference's own full
  * rebuild (the batch [[graft.cdc.Scd2.transform]], re-run per trigger):
  *
  *  2. [[touchedKeysRebuild]] — rebuild restricted to keys present in
  *     the micro-batch: union(batch events, prior history of touched keys'
  *     events) re-versionized, other keys' rows carried over untouched.
  *     At 100 TB this touches O(batch keys · versions), not O(table).
  *  3. [[incremental]] — true per-key streaming state
  *     (transformWithState through [[Scd2Processor]]): holds each key's
  *     event log (bounded by retention) and re-emits corrected versions
  *     when late/out-of-order events arrive. Exactly-once via checkpoint +
  *     (id, lsn) dedupe.
  *
  * All modes consume the same parsed change-event schema produced by
  * [[graft.cdc.Scd2.cdcEvents]].
  */
object Scd2Streaming {

  /** File-based envelope stream (the NDJSON lake as a streaming source —
    * `maxFilesPerTrigger` mirrors the sink's small-file cadence).
    */
  def readEnvelopeStream(spark: SparkSession, path: String, rowSchema: StructType,
                         maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(CdcSchemas.envelope(rowSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Kafka record value (binary JSON) → envelope columns. Factored out of
    * the stream builder so the parse is testable without a broker — the
    * expression is identical for batch Kafka reads and file streams.
    */
  def parseKafkaValue(df: DataFrame, rowSchema: StructType): DataFrame =
    df.select(from_json(col("value").cast("string"),
        CdcSchemas.envelope(rowSchema)).as("env"))
      .select(col("env.payload").as("payload"))

  /** Debezium topic name for a captured table: `<prefix>.<schema>.<table>`
    * (reference connectors/cdc-source.json `topic.prefix=cdc` +
    * `table.include.list=commerce.products,commerce.users` → topics
    * `cdc.commerce.products,cdc.commerce.users`, the exact list the
    * reference's sink subscribes to in connectors/s3-sink.json `topics`).
    */
  def debeziumTopic(prefix: String, table: String): String = s"$prefix.$table"

  /** The full option contract for the Kafka source leg, factored out of the
    * stream builder so it is assertable without a broker (the sandbox has
    * neither the spark-sql-kafka connector nor kafka-clients — see
    * Scd2StreamingSpec "S5/S6 Kafka source contract").
    *
    *  - `subscribe` is the capture-side include filter (S6): one Debezium
    *    topic per included table, comma-joined.
    *  - `startingOffsets=earliest`: the reference's pipeline replays the
    *    initial snapshot (cdc-source.json `snapshot.mode=initial`); a
    *    late-attached consumer must read from the beginning or the SCD2
    *    history misses pre-attach versions.
    *  - `failOnDataLoss=true`: an aged-out offset means irrecoverably lost
    *    change events — the SCD2 table would silently diverge from the
    *    source, so fail loudly instead (idempotent restart semantics come
    *    from checkpoint + (id, lsn) dedupe, not from tolerating loss).
    */
  def kafkaSourceOptions(bootstrap: String, tables: Seq[String],
                         topicPrefix: String = "cdc"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> tables.map(debeziumTopic(topicPrefix, _)).mkString(","),
    "startingOffsets" -> "earliest",
    "failOnDataLoss" -> "true")

  /** Kafka envelope stream: subscribe + value parse (S5/S6 — the
    * `subscribe` list is the capture-side include filter).
    */
  def readKafkaEnvelopeStream(spark: SparkSession, bootstrap: String, topic: String,
                              rowSchema: StructType): DataFrame =
    parseKafkaValue(
      spark.readStream
        .format("kafka")
        .options(kafkaSourceOptions(bootstrap, Seq(topic), topicPrefix = "")
          .updated("subscribe", topic))
        .load(),
      rowSchema)

  /** Mode 2: touched-keys rebuild. `priorEvents` is the retained event log
    * (parquet, partitioned by key-hash bucket — only partitions containing
    * batch keys are re-read); `priorHistory` (None on the first batch) is
    * the current SCD2 table, whose untouched-key rows are carried over
    * verbatim so the output is the complete new table.
    */
  def touchedKeysRebuild(batchEvents: DataFrame, priorEvents: DataFrame,
                         priorHistory: Option[DataFrame],
                         attrFields: Seq[String]): DataFrame = {
    val touched = batchEvents.select("id").distinct()
    val replay = priorEvents.join(touched, Seq("id"), "left_semi")
      .unionByName(batchEvents)
    val rebuilt = Scd2.history(Scd2.rankedEvents(Scd2.dedupeEvents(replay)), attrFields)
    priorHistory match {
      case Some(h) => h.join(touched, Seq("id"), "left_anti").unionByName(rebuilt)
      case None => rebuilt
    }
  }

  /** Driver-side state for the touched-keys mode, safe for long-running
    * streams: owns the caches it creates and unpersists each superseded
    * history generation after the new one is materialized, so executor
    * storage stays O(current history + event log) instead of growing per
    * trigger. The retained event log is `localCheckpoint`ed (eager) each
    * batch, which also truncates lineage — a plain cache chain deepens the
    * logical plan every trigger and never frees the superseded blocks.
    *
    * localCheckpoint trade-off (documented Spark contract): checkpointed
    * blocks die with their executor, so a lost executor fails the stream
    * instead of recomputing — acceptable for a demo/driver-local maintainer;
    * a production deployment would persist the event log to reliable
    * storage (see [[writeBatchIdempotent]]).
    */
  final class TouchedKeysMaintainer(attrFields: Seq[String]) {
    private var historyDf: Option[DataFrame] = None
    private var eventLogDf: Option[DataFrame] = None
    // The RDD backing each localCheckpoint'd event-log generation.
    // `Dataset.unpersist()` only releases cache-manager entries, not
    // checkpoint blocks, so superseded generations must be freed through
    // the checkpointed RDD itself — otherwise their blocks linger until
    // the ContextCleaner GCs the old DataFrame and storage transiently
    // exceeds the documented O(current history + event log) bound
    // (ADVICE r3).
    private var eventLogRdd: Option[org.apache.spark.rdd.RDD[_]] = None

    /** Consume one micro-batch of raw envelopes.
      *
      * Recovery contract (sharpened by the eager free below — ADVICE r4):
      * the new history `h` is cached and counted here, but its LINEAGE is
      * rooted in the previous generation's localCheckpoint RDD, whose
      * blocks this step frees. If `h`'s cached blocks are later lost
      * (executor death), recomputation fails rather than recovering —
      * there is no recovery path, by design: this maintainer trades
      * fault-tolerance for bounded storage on a driver-local stream (see
      * the class doc). Deployments needing recovery must persist each
      * generation to reliable storage ([[writeBatchIdempotent]]) instead.
      */
    def step(batchEnvelopes: DataFrame): Unit = {
      val be = Scd2.cdcEvents(batchEnvelopes).filter(col("id").isNotNull)
      val prior = eventLogDf.getOrElse(be.limit(0))
      val h = touchedKeysRebuild(be, prior, historyDf, attrFields).cache()
      h.count() // materialize before releasing the generation it was built from
      val log = prior.unionByName(be)
        .dropDuplicates("id", "log_seq_num").localCheckpoint() // eager: materialized here
      val logRdd = log.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
        case _ => None // plan shape changed under us: skip eager free, ContextCleaner still reclaims
      }
      historyDf.foreach(_.unpersist())
      eventLogRdd.foreach(_.unpersist(blocking = false))
      historyDf = Some(h)
      eventLogDf = Some(log)
      eventLogRdd = logRdd
    }

    /** Current SCD2 history (None before the first batch). */
    def history: Option[DataFrame] = historyDf

    /** Retained deduped event log (None before the first batch). */
    def eventLog: Option[DataFrame] = eventLogDf

    /** Release all retained executor storage (history cache + event-log
      * checkpoint blocks). The history must be materialized elsewhere
      * first: its lineage roots in the checkpointed log, so after release
      * it is NOT recomputable.
      */
    def release(): Unit = {
      historyDf.foreach(_.unpersist())
      eventLogRdd.foreach(_.unpersist(blocking = false))
      historyDf = None; eventLogDf = None; eventLogRdd = None
    }
  }

  /** Idempotent micro-batch sink: each batch lands in `basePath/batch=<id>`
    * and a batch already marked complete (`_SUCCESS` present) is skipped —
    * so foreachBatch replays after a failure/restart write nothing twice.
    * Combined with checkpointing (offsets) and (id, lsn) dedupe upstream,
    * this is the end-to-end exactly-once story the reference's S3 sink
    * claims (plugins/kafka-connect-s3/manifest.json:6, SURVEY.md §2.8).
    * Returns true if the batch was written, false if skipped.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, basePath: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/batch=$batchId")
    val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) false
    else {
      batch.write.mode("overwrite").parquet(dir.toString)
      true
    }
  }

  // ---- Mode 3: true incremental state -----------------------------------

  /** One parsed change event, typed for stateful processing. */
  case class KeyEvent(id: Int, lsn: Long, tsMs: Long,
                      attrs: Map[String, String], op: String)

  /** One emitted SCD2 version row. */
  case class VersionRow(id: Int, lsn: Long,
                        rowValidStartMs: Long, rowValidExpirationMs: Long,
                        attrs: Map[String, String], isCorrection: Boolean)

  /** Per-key retained state: the (bounded) event log. */
  case class KeyState(events: List[(Long, Long, Map[String, String])]) // (lsn, tsMs, attrs)

  val SentinelMs: Long = graft.Ts.utc("9999-01-01 00:00:00").getTime

  /** Retention bound for per-key state: events whose wall-clock timestamp
    * trails the key's max seen ts by more than this are compacted away
    * (the latest event always survives — it anchors the open interval).
    * Bounds state to O(events inside the lateness horizon) per key instead
    * of O(all versions ever): the difference between state that fits and
    * state that grows forever at 100 TB. Late events older than the
    * horizon merge with reduced correction fidelity (documented trade-off,
    * same contract as a watermark).
    */
  val DefaultRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Pure per-key merge step behind [[Scd2Processor]]: merge new events
    * into the prior per-key log (dedupe on lsn, within-batch AND against
    * state — a redelivered (id, lsn) can land twice in one trigger),
    * compact to the retention horizon, and emit the version rows whose
    * validity changed. A late event reopens/corrects previously-emitted
    * intervals — downstream sinks upsert on (id, lsn). Returns
    * (new state or None if nothing fresh, emissions).
    */
  def mergeKeyEvents(retentionMs: Long, id: Int, incoming: Iterator[KeyEvent],
                     prior: List[(Long, Long, Map[String, String])])
      : (Option[KeyState], Iterator[VersionRow]) = {
    val priorLsns = prior.map(_._1).toSet
    val fresh = incoming
      .filter(e => !priorLsns.contains(e.lsn))
      .map(e => (e.lsn, e.tsMs, e.attrs)).toList
      .distinctBy(_._1)
    if (fresh.isEmpty) return (None, Iterator.empty)

    val mergedAll = (prior ++ fresh).sortBy(_._1)
    val minFresh = fresh.map(_._1).min
    // versions at or after the earliest fresh lsn changed; the one just
    // before it changed too (its expiration moved). Emission reads the log
    // BEFORE compaction: an idle key's previous (open) version may lie past
    // the horizon, and dropping it first would leave it open forever.
    val changed = mergedAll.drop(math.max(0, mergedAll.indexWhere(_._1 >= minFresh) - 1))
    val ends = changed.iterator.drop(1).map(_._2) ++ Iterator.single(SentinelMs)
    val out = changed.iterator.zip(ends).map { case ((lsn, ts, attrs), end) =>
      VersionRow(id, lsn, ts, end, attrs, isCorrection = lsn < minFresh)
    }
    // compact: keep events within the retention horizon of the max ts,
    // plus unconditionally the highest-lsn event (open-interval anchor)
    val horizon = mergedAll.map(_._2).max - retentionMs
    val merged = mergedAll.zipWithIndex.collect {
      case (e, i) if e._2 >= horizon || i == mergedAll.length - 1 => e
    }
    (Some(KeyState(merged)), out)
  }

  /** The Spark-4 arbitrary-state v2 processor for [[incremental]]:
    * per-key event log in a typed ValueState, merged by
    * [[mergeKeyEvents]]. No timer-based full eviction on
    * purpose: the highest-lsn event is the OPEN-interval anchor — evicting
    * an idle key would orphan its open version, so a returning key could
    * no longer close the prior interval (the horizon compaction inside
    * mergeKeyEvents already bounds per-key state to the retention window
    * plus that single anchor; production idle-key TTL would trade that
    * correction fidelity explicitly via the TTLConfig knob).
    */
  final class Scd2Processor(retentionMs: Long)
      extends StatefulProcessor[Int, KeyEvent, VersionRow] {
    @transient private var st: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KeyState](
        "log", org.apache.spark.sql.Encoders.product[KeyState], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[KeyEvent],
                                 timerValues: TimerValues): Iterator[VersionRow] = {
      val prior = if (st.exists()) st.get().events else Nil
      val (next, out) = mergeKeyEvents(retentionMs, key, rows, prior)
      next.foreach(st.update)
      out
    }
  }

  /** Mode 3 entry: typed event stream → corrected version-row stream,
    * on the transformWithState (state v2) surface.
    */
  def incremental(events: Dataset[KeyEvent],
                  retentionMs: Long = DefaultRetentionMs): Dataset[VersionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.id)
      .transformWithState(new Scd2Processor(retentionMs),
        TimeMode.None(), OutputMode.Append())
  }
}
