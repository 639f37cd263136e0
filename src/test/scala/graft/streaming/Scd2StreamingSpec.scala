package graft.streaming

import graft.{GraftSession, SparkSuite}
import graft.cdc.{CdcSchemas, EnvelopeReader, Scd2}
import graft.cdc.CdcFixtures._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ≡ batch equivalence (SURVEY.md §5.2.4): incremental processing
  * of the same events must converge to the batch rebuild.
  */
class Scd2StreamingSpec extends SparkSuite {
  import spark.implicits._

  private val t0 = 1733333333000L

  private val batch1 = Seq(
    envelope("null", productRow(Some(1), "w", "v1", 1.0), "c", t0, 100),
    envelope("null", productRow(Some(2), "g", "v1", 2.0), "c", t0 + 100, 110))
  private val batch2 = Seq(
    envelope(productRow(Some(1), "w", "v1", 1.0), productRow(Some(1), "w", "v2", 1.5), "u", t0 + 1000, 200),
    envelope(productRow(Some(2), "g", "v1", 2.0), "null", "d", t0 + 2000, 300))

  /** transformWithState needs column families — RocksDB-only. */
  private def withRocksDb[A](body: => A): A =
    GraftSession.withConf(spark, GraftSession.RocksDbStateStore)(body)

  test("file-stream foreachBatch touched-keys rebuild == batch rebuild") {
    val lakeDir = tempDir("streamlake")
    writeLake(lakeDir, batch1)

    val attrs = Seq("name", "description", "price")
    val maintainer = new Scd2Streaming.TouchedKeysMaintainer(attrs)
    val stream = Scd2Streaming.readEnvelopeStream(
      spark, lakeDir.getAbsolutePath, CdcSchemas.productsRow, maxFilesPerTrigger = 1)
    val q = stream.writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
      maintainer.step(b)
    }.start()
    q.processAllAvailable()
    writeLake(lakeDir, batch2, day = 13)
    q.processAllAvailable()
    q.stop()

    val batchOut = Scd2.transform(
      EnvelopeReader.readEnvelopes(spark, lakeDir.getAbsolutePath, CdcSchemas.productsRow),
      attrs)
    val a = maintainer.history.get.orderBy("id", "row_valid_start_timestamp").collect().toSeq
    val b = batchOut.orderBy("id", "row_valid_start_timestamp").collect().toSeq
    assert(a == b, "incremental touched-keys result diverged from batch rebuild")
  }

  test("maintainer unpersists superseded generations (bounded storage)") {
    // the pre-round-3 demo cached history + event log every batch and never
    // unpersisted — lineage and executor storage grew per trigger. The
    // maintainer must keep exactly the current history cached and release
    // each superseded generation.
    val lakeDir = tempDir("cacheboundlake")
    writeLake(lakeDir, batch1)

    val maintainer = new Scd2Streaming.TouchedKeysMaintainer(
      Seq("name", "description", "price"))
    var generations = List.empty[org.apache.spark.sql.DataFrame]
    val stream = Scd2Streaming.readEnvelopeStream(
      spark, lakeDir.getAbsolutePath, CdcSchemas.productsRow, maxFilesPerTrigger = 1)
    val q = stream.writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
      maintainer.step(b)
      generations = maintainer.history.get :: generations
    }.start()
    q.processAllAvailable()
    writeLake(lakeDir, batch2, day = 13)
    q.processAllAvailable()
    q.stop()

    assert(generations.size >= 2, "need multiple micro-batches to observe supersession")
    val (current, superseded) = (generations.head, generations.tail)
    assert(current.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "current history generation must stay cached")
    superseded.foreach { g =>
      assert(g.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "superseded history generation must be unpersisted")
    }
  }

  test("event-log checkpoint blocks are freed per generation and on release") {
    // ADVICE r3: superseded localCheckpoint'd event-log generations were
    // freed only when the ContextCleaner GC'd the old DataFrame, so
    // executor storage transiently exceeded the documented O(current
    // history + event log) bound. Now each superseded generation's
    // checkpointed RDD is unpersisted as soon as its successor
    // materializes, and release() returns storage to the pre-run level.
    // compare persistent-RDD ID SETS, not counts: the ContextCleaner may
    // concurrently free unrelated RDDs left by earlier tests in the suite
    val lakeDir = tempDir("evlogbound")
    writeLake(lakeDir, batch1)
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val maintainer = new Scd2Streaming.TouchedKeysMaintainer(
      Seq("name", "description", "price"))
    val stream = Scd2Streaming.readEnvelopeStream(
      spark, lakeDir.getAbsolutePath, CdcSchemas.productsRow, maxFilesPerTrigger = 1)
    val q = stream.writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
      maintainer.step(b)
    }.start()
    q.processAllAvailable()
    writeLake(lakeDir, batch2, day = 13)
    q.processAllAvailable()
    q.stop()

    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size <= 2,
      s"storage must hold one history cache + one event-log checkpoint, holds ${during.size} new RDDs")
    assert(maintainer.history.get.count() > 0) // still servable before release
    maintainer.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"release() must free every block the maintainer created; leaked RDD ids: $leaked")
  }

  test("incremental (transformWithState) handles out-of-order + late events") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Scd2Streaming.KeyEvent]
    val out = Scd2Streaming.incremental(input.toDS())
    val q = out.writeStream.format("memory").queryName("inc_out")
      .outputMode("append").start()

    // arrive out of order: lsn 300 before 200; then late lsn 150
    input.addData(Scd2Streaming.KeyEvent(1, 100, t0, Map("name" -> "a"), "c"))
    q.processAllAvailable()
    input.addData(Scd2Streaming.KeyEvent(1, 300, t0 + 3000, Map("name" -> "c"), "u"))
    q.processAllAvailable()
    input.addData(Scd2Streaming.KeyEvent(1, 200, t0 + 2000, Map("name" -> "b"), "u"))
    q.processAllAvailable()
    // duplicate lsn must be ignored
    input.addData(Scd2Streaming.KeyEvent(1, 200, t0 + 2000, Map("name" -> "b"), "u"))
    q.processAllAvailable()
    q.stop()

    // last-write-wins per lsn: reconstruct final chain from emitted rows
    val rows = spark.table("inc_out").as[Scd2Streaming.VersionRow].collect()
    val finalChain = rows.groupBy(_.lsn).map { case (_, vs) => vs.last }
      .toSeq.sortBy(_.lsn)
    assert(finalChain.map(_.lsn) == Seq(100L, 200L, 300L))
    assert(finalChain.map(_.rowValidExpirationMs) ==
           Seq(t0 + 2000, t0 + 3000, Scd2Streaming.SentinelMs),
      "late lsn-200 event must re-close lsn-100's interval and chain into lsn-300")
    assert(finalChain.map(_.attrs("name")) == Seq("a", "b", "c"))
    }
  }

  test("duplicate (id, lsn) within a single micro-batch enters state once") {
    // redelivery can land twice in ONE trigger, not only across triggers:
    // both copies pass the prior-state lsn filter, so the within-batch
    // dedupe must suppress the second or state grows a duplicate entry
    // producing zero-width version rows
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Scd2Streaming.KeyEvent]
    val out = Scd2Streaming.incremental(input.toDS())
    val q = out.writeStream.format("memory").queryName("dup_batch_out")
      .outputMode("append").start()

    input.addData(
      Scd2Streaming.KeyEvent(1, 100, t0, Map("name" -> "a"), "c"),
      Scd2Streaming.KeyEvent(1, 100, t0, Map("name" -> "a"), "c"),
      Scd2Streaming.KeyEvent(1, 200, t0 + 1000, Map("name" -> "b"), "u"))
    q.processAllAvailable()
    input.addData(Scd2Streaming.KeyEvent(1, 300, t0 + 2000, Map("name" -> "c"), "u"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dup_batch_out").as[Scd2Streaming.VersionRow].collect()
    val finalChain = rows.groupBy(_.lsn).map(_._2.last).toSeq.sortBy(_.lsn)
    assert(finalChain.map(_.lsn) == Seq(100L, 200L, 300L),
      s"duplicate lsn in one batch must yield one state entry: $finalChain")
    assert(finalChain.map(_.rowValidExpirationMs) ==
           Seq(t0 + 1000, t0 + 2000, Scd2Streaming.SentinelMs),
      "no zero-width intervals from the duplicated event")
    }
  }

  test("idempotent batch sink skips already-committed batches") {
    import spark.implicits._
    val dir = tempDir("idempsink").getAbsolutePath
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    assert(Scd2Streaming.writeBatchIdempotent(df, 7L, dir))
    assert(!Scd2Streaming.writeBatchIdempotent(df, 7L, dir), "replay must be skipped")
    assert(Scd2Streaming.writeBatchIdempotent(df, 8L, dir))
    assert(spark.read.parquet(s"$dir/batch=7").count() == 2)
  }

  test("per-key state is compacted to the retention horizon") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Scd2Streaming.KeyEvent]
    val out = Scd2Streaming.incremental(input.toDS(), retentionMs = 1000L)
    val q = out.writeStream.format("memory").queryName("ret_out")
      .outputMode("append").start()

    // three old events, then one far in the future: the old ones fall out
    // of the horizon but the chain stays correct for fresh data
    input.addData(
      Scd2Streaming.KeyEvent(1, 10, t0, Map("name" -> "a"), "c"),
      Scd2Streaming.KeyEvent(1, 20, t0 + 100, Map("name" -> "b"), "u"),
      Scd2Streaming.KeyEvent(1, 30, t0 + 200, Map("name" -> "c"), "u"))
    q.processAllAvailable()
    input.addData(Scd2Streaming.KeyEvent(1, 40, t0 + 100000, Map("name" -> "d"), "u"))
    q.processAllAvailable()
    // an event after compaction must still chain against the surviving tail
    input.addData(Scd2Streaming.KeyEvent(1, 50, t0 + 100500, Map("name" -> "e"), "u"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ret_out").as[Scd2Streaming.VersionRow].collect()
    val last = rows.groupBy(_.lsn).map(_._2.last).toSeq.sortBy(_.lsn)
    assert(last.map(_.lsn).takeRight(2) == Seq(40L, 50L))
    assert(last.find(_.lsn == 40).get.rowValidExpirationMs == t0 + 100500)
    assert(last.find(_.lsn == 50).get.rowValidExpirationMs == Scd2Streaming.SentinelMs)
    }
  }

  test("an idle key's open version closes when its next event lands past the retention horizon") {
    // the retention case above, merged directly: lsn 30 is the open version
    // when lsn 40 arrives 100 s later; 30 falls out of the 1 s horizon, but
    // its sentinel row must still be re-emitted with 40's ts as expiration
    // (batch SCD2 closes it there) or the key holds two current rows
    import Scd2Streaming.{KeyEvent, mergeKeyEvents}
    val (first, _) = mergeKeyEvents(1000L, 1, Iterator(
      KeyEvent(1, 10, t0, Map("name" -> "a"), "c"),
      KeyEvent(1, 20, t0 + 100, Map("name" -> "b"), "u"),
      KeyEvent(1, 30, t0 + 200, Map("name" -> "c"), "u")), Nil)
    val (next, out) = mergeKeyEvents(1000L, 1,
      Iterator(KeyEvent(1, 40, t0 + 100000, Map("name" -> "d"), "u")), first.get.events)
    val rows = out.toList
    assert(rows.map(r => (r.lsn, r.rowValidExpirationMs, r.isCorrection)) == List(
      (30L, t0 + 100000, true), (40L, Scd2Streaming.SentinelMs, false)))
    assert(next.get.events.map(_._1) == List(40L), "state still compacts to the horizon")
  }

  test("incremental mode under RocksDB state store: skewed hot key, bounded state") {
    // the 100 TB state-store configuration (round-2 advice): the per-key
    // event-log state must round-trip RocksDB serialization, keep exactly
    // one state row per key even when one key is pathologically hot, and
    // produce the complete correct chain while the hot key's log is being
    // compacted to the retention horizon across batches
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Scd2Streaming.KeyEvent]
      val out = Scd2Streaming.incremental(input.toDS(), retentionMs = 1000L)
      val q = out.writeStream.format("memory").queryName("rocks_out")
        .outputMode("append").start()

      // hot key 1: 200 events spaced 40 ms apart in 10 micro-batches — each
      // batch spans 760 ms < the 1 s retention, so every event is emitted
      // while arriving, and state is compacted to the horizon BETWEEN
      // batches; keys 2..21: two events each in the first batch
      val hot = (0 until 200).map(i =>
        Scd2Streaming.KeyEvent(1, 1000L + i, t0 + i * 40L, Map("name" -> s"h$i"), "u"))
      val tail = (2 to 21).flatMap(k => Seq(
        Scd2Streaming.KeyEvent(k, 10L, t0, Map("name" -> s"k$k-a"), "c"),
        Scd2Streaming.KeyEvent(k, 20L, t0 + 500, Map("name" -> s"k$k-b"), "u")))
      input.addData(hot.take(20) ++ tail)
      q.processAllAvailable()
      for (b <- 1 until 10) {
        input.addData(hot.slice(b * 20, (b + 1) * 20))
        q.processAllAvailable()
      }
      val progress = q.lastProgress
      q.stop()

      // one state row per key, not per event — RocksDB holds 21 entries
      assert(progress.stateOperators.head.numRowsTotal == 21,
        s"expected 21 state rows, got ${progress.stateOperators.head.numRowsTotal}")

      // final chain: corrections only ever tighten a sentinel expiration to
      // the real next-change ts, so per lsn the smallest expiration wins
      val rows = spark.table("rocks_out").as[Scd2Streaming.VersionRow].collect()
      val hotChain = rows.filter(_.id == 1).groupBy(_.lsn)
        .map(_._2.minBy(_.rowValidExpirationMs)).toSeq.sortBy(_.lsn)
      assert(hotChain.map(_.lsn) == (0 until 200).map(1000L + _),
        "every hot-key event must be versioned despite state compaction")
      assert(hotChain.last.rowValidExpirationMs == Scd2Streaming.SentinelMs)
      assert(hotChain.sliding(2).forall {
        case Seq(a, b) => a.rowValidExpirationMs == b.rowValidStartMs
        case _ => true
      }, "hot-key validity chain must stay contiguous under compaction")
      val k7 = rows.filter(_.id == 7).groupBy(_.lsn).map(_._2.last).toSeq.sortBy(_.lsn)
      assert(k7.map(_.attrs("name")) == Seq("k7-a", "k7-b"))
    }
  }

  test("per-key state size is bounded by the retention horizon (direct)") {
    // drive the per-key merge directly: after 10 batches of a hot key,
    // retained state must hold only the horizon's worth of events (+ the
    // open-interval anchor), not the full history
    var state = List.empty[(Long, Long, Map[String, String])]
    for (b <- 0 until 10) {
      val batch = (0 until 20).map { j =>
        val i = b * 20 + j
        Scd2Streaming.KeyEvent(1, 1000L + i, t0 + i * 40L, Map("name" -> s"h$i"), "u")
      }
      val (next, _) = Scd2Streaming.mergeKeyEvents(1000L, 1, batch.iterator, state)
      next.foreach(n => state = n.events)
    }
    val retained = state.size
    // horizon = 1000 ms / 40 ms spacing = ~26 events; full history is 200
    assert(retained <= 30,
      s"state must be bounded by the retention horizon, held $retained of 200 events")
    assert(retained >= 10, "state must retain the horizon's worth of events")
  }

  test("transformWithState incremental (state v2): retention-bounded state " +
      "under RocksDB, chain stays contiguous across compaction") {
    // r9: the flagship incremental path moved to the Spark-4
    // transformWithState surface (Scd2Processor + typed ValueState); this
    // pins one state row per key, a horizon-bounded log and a contiguous
    // validity chain through that path end-to-end.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Scd2Streaming.KeyEvent]
      val out = Scd2Streaming.incremental(input.toDS(), retentionMs = 1000L)
      val q = out.writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()

      val hot = (0 until 100).map(i =>
        Scd2Streaming.KeyEvent(1, 1000L + i, t0 + i * 40L, Map("name" -> s"h$i"), "u"))
      input.addData(hot.take(20) ++ Seq(
        Scd2Streaming.KeyEvent(2, 10L, t0, Map("name" -> "k2"), "c")))
      q.processAllAvailable()
      for (b <- 1 until 5) {
        input.addData(hot.slice(b * 20, (b + 1) * 20))
        q.processAllAvailable()
      }
      val progress = q.lastProgress
      q.stop()

      assert(progress.stateOperators.head.numRowsTotal == 2,
        s"expected 2 state rows (one per key), got " +
          s"${progress.stateOperators.head.numRowsTotal}")
      val rows = spark.table("tws_out").as[Scd2Streaming.VersionRow].collect()
      val hotChain = rows.filter(_.id == 1).groupBy(_.lsn)
        .map(_._2.minBy(_.rowValidExpirationMs)).toSeq.sortBy(_.lsn)
      assert(hotChain.map(_.lsn) == (0 until 100).map(1000L + _),
        "every hot-key event must be versioned despite state compaction")
      assert(hotChain.last.rowValidExpirationMs == Scd2Streaming.SentinelMs)
      assert(hotChain.sliding(2).forall {
        case Seq(a, b) => a.rowValidExpirationMs == b.rowValidStartMs
        case _ => true
      }, "validity chain must stay contiguous under the v2 state path")
    }
  }

  test("at-least-once delivery is deduped on (id, lsn) within the watermark") {
    // SURVEY §2.8 delivery row: the reference's S3 sink claims exactly-once
    // but the engine-side guarantee is dedupe by (id, lsn) — redelivered
    // envelopes in later micro-batches must not produce duplicate rows,
    // with state bounded by the watermark (not the full history).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (id, log_seq_num, ts_ms)
    val deduped = input.toDS()
      .select(col("_1").as("id"), col("_2").as("log_seq_num"),
        timestamp_millis(col("_3")).as("ts"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id", "log_seq_num")
    val q = deduped.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()

    input.addData((1L, 100L, t0), (1L, 110L, t0 + 1000))
    q.processAllAvailable()
    // redelivery of (1, 100) in a later micro-batch, plus a fresh event
    input.addData((1L, 100L, t0), (2L, 120L, t0 + 2000))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dd_out").select("id", "log_seq_num").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size == 3 && rows.toSet == Set((1L, 100L), (1L, 110L), (2L, 120L)),
      s"redelivered (id, lsn) must be suppressed exactly once: $rows")
  }

  test("watermarked tumbling-window aggregation over an envelope stream") {
    implicit val sqlCtx = spark.sqlContext
    case class Ev(ts: java.sql.Timestamp, k: String, v: Double)
    val input = MemoryStream[(Long, String, Double)]
    val agg = input.toDS()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("k"), col("_3").as("v"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()

    val base = 1733333100000L // aligned 5-min boundary
    input.addData((base + 1000, "a", 1.0), (base + 2000, "a", 2.0), (base + 1000, "b", 5.0))
    q.processAllAvailable()
    // advance event time past watermark so the first window closes in append mode
    input.addData((base + 20 * 60 * 1000, "a", 9.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_out")
      .select(col("k"), col("n"), col("sv")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("a", 2L, 3.0), ("b", 1L, 5.0)),
      "first-window aggregates must emit exactly once after the watermark passes")
  }

  test("stream-stream interval join: clicks attribute to impressions in-window") {
    // The remaining streaming operator surface: two unbounded inputs joined
    // with watermarks + a time-range condition (StreamingSymmetricHashJoin)
    // — each side's state is bounded by the interval, the 100 TB contract.
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, String)] // (tsMs, adId)
    val clicks = MemoryStream[(Long, String)]
    val imp = impressions.toDF().select(
      timestamp_millis(col("_1")).as("imp_ts"), col("_2").as("ad_id"))
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks.toDF().select(
      timestamp_millis(col("_1")).as("clk_ts"), col("_2").as("c_ad_id"))
      .withWatermark("clk_ts", "10 minutes")
    val joined = imp.join(clk,
      col("ad_id") === col("c_ad_id") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr("interval 5 minutes"))
      .select(col("ad_id"), unix_millis(col("imp_ts")).as("imp_ms"),
        unix_millis(col("clk_ts")).as("clk_ms"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()

    val t0 = 1733333100000L
    impressions.addData((t0, "a"), (t0, "b"))
    clicks.addData((t0 + 60 * 1000, "a"))            // in-window click → joins
    q.processAllAvailable()
    clicks.addData((t0 + 20 * 60 * 1000, "b"))       // 20 min later → outside window
    impressions.addData((t0 + 30 * 60 * 1000, "c"))  // advances imp watermark
    clicks.addData((t0 + 30 * 60 * 1000 + 1000, "c")) // joins within window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssj_out").select("ad_id", "clk_ms").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", t0 + 60 * 1000), ("c", t0 + 30 * 60 * 1000 + 1000)),
      "only in-interval (impression, click) pairs join; the 20-min-late click must not")
  }

  test("S5/S6 Kafka source contract: topics, offsets, loss semantics pinned") {
    // The Kafka transport itself is permanently unverifiable in this
    // sandbox: neither spark-sql-kafka nor kafka-clients is on the
    // classpath and the resolver is offline, so no embedded broker can
    // exist. What IS ours is (a) the value-parse expression — asserted
    // equal to the file-envelope parse in Scd2Spec — and (b) the exact
    // source options the stream builder emits, pinned here against the
    // reference's connector configs.
    val opts = Scd2Streaming.kafkaSourceOptions(
      "kafka:9092", Seq("commerce.products", "commerce.users"))
    assert(opts("kafka.bootstrap.servers") == "kafka:9092",
      "reference broker address (docker-compose.yml KAFKA_ADVERTISED_LISTENERS)")
    assert(opts("subscribe") == "cdc.commerce.products,cdc.commerce.users",
      "subscribe list == capture include filter (cdc-source.json " +
        "table.include.list + topic.prefix; matches s3-sink.json topics)")
    assert(opts("startingOffsets") == "earliest",
      "snapshot.mode=initial requires reading from the beginning")
    assert(opts("failOnDataLoss") == "true",
      "aged-out offsets mean lost change events — diverging silently is worse")
    assert(Scd2Streaming.debeziumTopic("cdc", "commerce.products")
      == "cdc.commerce.products")
  }
}
