package graft.streaming

import graft.{GraftSession, SparkSuite}
import graft.cdc.{CdcSchemas, EnvelopeReader, Scd2, Scd2PropertySpec}
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

  /** transformWithState needs column families — RocksDB-only. Streams
    * under it name a checkpoint that outlives the query: with changelog
    * checkpointing, store maintenance uploads snapshots after the commit,
    * and a temporary checkpoint is deleted at stop, under its feet.
    */
  private def withRocksDb[A](body: => A): A =
    GraftSession.withConf(spark, GraftSession.RocksDbStateStore)(body)

  test("file-stream foreachBatch touched-keys rebuild == batch rebuild") {
    // each micro-batch re-versions only the keys it touches, in per-key
    // state; the converged emissions must equal the batch rebuild
    val lakeDir = tempDir("streamlake")
    writeLake(lakeDir, batch1)

    val attrs = Seq("name", "description", "price")
    val sink = SparkSuite.scratchDir("touched-sink") + "/emissions"
    withRocksDb {
      val versions = Scd2Streaming.incremental(Scd2Streaming.keyEvents(
        Scd2Streaming.readEnvelopeStream(
          spark, lakeDir.getAbsolutePath, CdcSchemas.productsRow, maxFilesPerTrigger = 1),
        attrs))
      val q = versions.writeStream
        .option("checkpointLocation", SparkSuite.scratchDir("touched-ckpt"))
        .foreachBatch(BoundedStream.appendTagged[Scd2Streaming.VersionRow](sink) _).start()
      q.processAllAvailable()
      writeLake(lakeDir, batch2, day = 13)
      q.processAllAvailable()
      q.stop()
    }

    val batchOut = Scd2PropertySpec.rebuilt(
      EnvelopeReader.readEnvelopes(spark, lakeDir.getAbsolutePath, CdcSchemas.productsRow),
      attrs)
    assert(spark.read.parquet(sink).select("batch_id").distinct().count() == 2)
    assert(Scd2PropertySpec.converged(spark.read.parquet(sink), attrs) == batchOut,
      "converged incremental stream diverged from batch rebuild")
  }

  test("converged keeps the last emission per (id, lsn) and round-trips attributes") {
    implicit val sqlCtx = spark.sqlContext
    val prices = Seq(0.0, 0.07, 12.34, 99.99)
    val row = (id: Int, p: Double) => productRow(Some(id), s"n$p", "d", p)
    val sink = SparkSuite.scratchDir("converged-sink") + "/emissions"
    withRocksDb {
      val input = MemoryStream[String]
      val versions = Scd2Streaming.incremental(Scd2Streaming.keyEvents(
        Scd2Streaming.parseKafkaValue(input.toDF(), CdcSchemas.productsRow),
        Seq("name", "description", "price")))
      val q = versions.writeStream
        .option("checkpointLocation", SparkSuite.scratchDir("converged-ckpt"))
        .foreachBatch(BoundedStream.appendTagged[Scd2Streaming.VersionRow](sink) _).start()
      input.addData(
        envelope("null", row(1, prices(0)), "c", t0, 100),
        envelope("null", row(1, prices(2)), "u", t0 + 3000, 300),
        envelope("null", row(2, prices(3)), "c", t0 + 100, 110))
      q.processAllAvailable()
      // lsn 200 arrives late: lsn 100's interval is re-emitted, closed at
      // lsn 200's timestamp instead of lsn 300's; key 2 is deleted
      input.addData(
        envelope("null", row(1, prices(1)), "u", t0 + 2000, 200),
        envelope(row(2, prices(3)), "null", "d", t0 + 4000, 400))
      q.processAllAvailable()
      q.stop()
    }

    val emissions = spark.read.parquet(sink)
    assert(emissions.filter(col("id") === 1 && col("lsn") === 100).count() == 2)
    val got = BoundedStream.converged(emissions, Scd2Streaming.VersionKey)
      .select(col("id"), col("lsn"), col("rowValidStartMs"), col("rowValidExpirationMs"),
        col("attrs")("name"), col("attrs")("price").cast("double"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.get(5)).map(_.asInstanceOf[Double])))
      .sortBy(r => (r._1, r._2)).toSeq
    val end = Scd2Streaming.SentinelMs
    assert(got == Seq(
      (1, 100L, t0, t0 + 2000, Some("n0.0"), Some(0.0)),
      (1, 200L, t0 + 2000, t0 + 3000, Some("n0.07"), Some(0.07)),
      (1, 300L, t0 + 3000, end, Some("n12.34"), Some(12.34)),
      (2, 110L, t0 + 100, t0 + 4000, Some("n99.99"), Some(99.99)),
      (2, 400L, t0 + 4000, end, None, None)))

    // the same read over a non-SCD2 key: per user_id, the row of the
    // highest of three batch ids wins; key first, batch_id dropped
    val updates = Seq((0L, 1L, 7L), (0L, 2L, 8L), (1L, 3L, 7L), (1L, 1L, 9L),
      (2L, 5L, 7L), (2L, 4L, 8L)).toDF("batch_id", "n", "user_id")
    val last = BoundedStream.converged(updates, Seq("user_id"))
    assert(last.columns.toSeq == Seq("user_id", "n"))
    assert(last.as[(Long, Long)].collect().toSet == Set((7L, 5L), (8L, 4L), (9L, 1L)))
  }

  test("incremental (transformWithState) handles out-of-order + late events") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Scd2Streaming.KeyEvent]
    val out = Scd2Streaming.incremental(input.toDS())
    val q = out.writeStream.format("memory").queryName("inc_out")
      .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
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
      .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
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

  test("per-key state is compacted to the retention horizon") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Scd2Streaming.KeyEvent]
    val out = Scd2Streaming.incremental(input.toDS(), retentionMs = 1000L)
    val q = out.writeStream.format("memory").queryName("ret_out")
      .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
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
        .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
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
        .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
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

  /** 16 envelope slices over keys 1–8: creates in slice 0, updates after
    * it, and in every fifth slice one key's delete (before image only).
    * From slice 2 on each slice also carries one event two slices late,
    * and from slice 1 on it redelivers a line of the slice before.
    */
  private val recoverySlices: Seq[Seq[String]] = {
    def ev(i: Int, k: Int, lsn: Long, op: String) = {
      val img = productRow(Some(k), s"n$i-$k", s"d$i", k + i * 0.5)
      if (op == "d") envelope(img, "null", op, t0 + lsn * 10, lsn)
      else envelope("null", img, op, t0 + lsn * 10, lsn)
    }
    val fresh = (0 until 16).map { i =>
      (1 to 8).filter(k => i == 0 || (k + i) % 3 != 0).map { k =>
        val op = if (i == 0) "c" else if (i % 5 == 4 && k == i % 8 + 1) "d" else "u"
        ev(i, k, 1000L * i + 10 * k, op)
      }
    }
    fresh.indices.map { i =>
      val late = if (i >= 2) Seq(ev(i - 2, i % 8 + 1, 1000L * (i - 2) + 10 * (i % 8 + 1) + 5, "u"))
        else Nil
      fresh(i) ++ late ++ fresh.lift(i - 1).toSeq.flatMap(_.take(1))
    }
  }

  test("exactly-once across changelog checkpoints: restarts before and after " +
      "a periodic snapshot converge to the batch rebuild") {
    // the session default: RocksDB commits write a changelog file; besides
    // version 1, a snapshot is due every minDeltasForSnapshot (10)
    // versions, and a restart loads the latest uploaded snapshot and
    // replays the changelog files after it
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    val root = SparkSuite.scratchDir("scd2-changelog")
    val (lake, ckpt) = (s"$root/lake", s"$root/ckpt")
    new java.io.File(lake).mkdirs()
    val attrs = Seq("name", "description", "price")
    // one file per slice and trigger, mtime-ordered; staged before each
    // start, so every AvailableNow run has a fixed end offset
    def stage(from: Int, until: Int): Unit = (from until until).foreach { i =>
      val f = java.nio.file.Paths.get(lake, f"slice-$i%02d.json")
      java.nio.file.Files.write(f, recoverySlices(i).mkString("", "\n", "\n").getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    // the catalog's SCD2 stream: checkpoint under `$root/ckpt`, emissions
    // appended to `$root/emissions` with their batch ids
    def start() = Scd2Streaming.startIncremental(
      Scd2Streaming.readEnvelopeStream(spark, lake, CdcSchemas.productsRow, maxFilesPerTrigger = 1),
      attrs, root)
    // (state partition, version) of each checkpoint file with `suffix`
    def stateFiles(suffix: String): Seq[(String, Long)] =
      new java.io.File(s"$ckpt/state/0").listFiles().toSeq
        .filter(d => d.isDirectory && d.getName.forall(_.isDigit))
        .flatMap(d => d.list().toSeq.filter(_.endsWith(suffix))
          .map(n => d.getName -> n.takeWhile(_.isDigit).toLong))

    withRocksDb {
      // 1: stop once two batches have committed, before any periodic snapshot
      stage(0, 4)
      val q1 = start()
      while (q1.isActive && (q1.lastProgress == null || q1.lastProgress.batchId < 1))
        Thread.sleep(20)
      q1.stop()
      assert(stateFiles(".changelog").exists(_._2 == 2L))
      assert(stateFiles(".zip").forall(_._2 == 1L), "no snapshot is due before version 10")

      // 2: resume and run to 13 commits. Snapshots are uploaded by store
      // maintenance, which by default runs once a minute; unloadOnCommit
      // runs it as each task commits (and reloads the store from the
      // checkpoint for every batch), so the periodic snapshot is on disk
      // before the stop
      stage(4, 13)
      GraftSession.withConf(spark, "spark.sql.streaming.stateStore.unloadOnCommit" -> "true") {
        start().awaitTermination()
      }
      val snapshots = stateFiles(".zip").groupMap(_._1)(_._2).view.mapValues(_.max).toMap
      val changelogs = stateFiles(".changelog").groupMap(_._1)(_._2)
      assert(snapshots.keySet == changelogs.keySet && snapshots.nonEmpty,
        s"every state partition must hold a snapshot: $snapshots")
      snapshots.foreach { case (p, v) =>
        assert(v >= 10 && v < 13 && (v + 1 to 13).forall(changelogs(p).contains),
          s"partition $p: snapshot $v, changelog ${changelogs(p).sorted}")
      }

      // 3: resume from snapshot + changelog and drain the rest
      stage(13, 16)
      val q3 = start()
      q3.awaitTermination()
      assert(q3.recentProgress.map(_.batchId).toSeq == Seq(13L, 14L, 15L),
        "the restart must resume after the last committed batch")
      assert(q3.lastProgress.stateOperators.map(_.numRowsTotal).sum == 8L,
        "one state row per key")
    }

    // the rebuild reads each event once: redelivered lines are the stream's
    // duplicates to drop, not events of the lake
    val events = recoverySlices.flatten.distinct
    val batch = Scd2PropertySpec.rebuilt(
      spark.read.schema(CdcSchemas.envelope(CdcSchemas.productsRow)).json(events.toDS()), attrs)
    assert(batch.size == events.size)
    assert(Scd2PropertySpec.converged(spark.read.parquet(s"$root/emissions"), attrs) == batch,
      "the restarted stream did not converge to the batch rebuild")
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
