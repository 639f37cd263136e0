package graft.streaming

import graft.{GraftSession, SparkSuite}
import graft.streaming.StreamingDedup.{DocRecord, SeenState}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._

  test("first-seen dedup suppresses duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamingDedup.firstSeen(
      input.toDS().map { case (id, h) => DocRecord(id, h) })
    val q = out.writeStream.format("memory").queryName("sd_out")
      .outputMode("append").start()

    input.addData((1L, "X"), (2L, "Y"))
    q.processAllAvailable()
    input.addData((3L, "X"), (4L, "Z"), (5L, "Y")) // 3 and 5 are dups
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("sd_out").as[DocRecord].collect()
      .map(d => d.docId -> d.contentHash).toSet
    assert(kept == Set(1L -> "X", 2L -> "Y", 4L -> "Z"))
  }

  test("within-trigger duplicates resolve to the min docId (deterministic)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[SeenState](
      Optional.empty(), org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      0L, Optional.empty(), false)
    val out = StreamingDedup.firstSeenUpdate("X",
      Iterator(DocRecord(7L, "X"), DocRecord(3L, "X"), DocRecord(9L, "X")), st).toList
    assert(out == List(DocRecord(3L, "X")), "batch operator tie-break: min id wins")
    assert(st.get == SeenState(3L))
    // a later trigger for the same hash emits nothing
    val again = StreamingDedup.firstSeenUpdate("X", Iterator(DocRecord(1L, "X")), st)
    assert(again.isEmpty, "already-seen fingerprints are suppressed, even for a lower id")
  }

  test("foreachBatch + dynamic partition overwrite: each trigger rewrites only its days") {
    // The streaming serving path at 100 TB: a micro-batch carrying events
    // for day D must rewrite partition D only — combining foreachBatch with
    // ServingLayer.overwritePartitions, never a table-wide swap.
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS daily_serv")
    Seq((0L, "d0"), (1L, "d1"), (2L, "d2")).toDF("v", "day")
      .write.partitionBy("day").format("parquet").saveAsTable("daily_serv")
    def filesOf(day: String): Set[String] = spark.table("daily_serv")
      .filter(col("day") === day).select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val d0Before = filesOf("d0")

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("v", "day").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.serving.ServingLayer.overwritePartitions(b, "daily_serv"); ()
      }
      .start()
    input.addData((10L, "d1"))
    q.processAllAvailable()
    input.addData((20L, "d2"), (30L, "d3")) // d3 is a brand-new partition
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("daily_serv").as[(Long, String)].collect().toSet
    assert(rows == Set((0L, "d0"), (10L, "d1"), (20L, "d2"), (30L, "d3")))
    assert(filesOf("d0") == d0Before, "untouched day keeps its exact files across triggers")
    spark.sql("DROP TABLE daily_serv")
  }

  test("horizon-bounded dedup evicts state once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // (tsMs, docId, hash)
    val docs = input.toDF().toDF("ts_ms", "doc_id", "content_hash")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = StreamingDedup.firstSeenWithinHorizon(docs, "ts", "content_hash", "10 minutes")
    val q = out.writeStream.format("memory").queryName("sdh_out")
      .outputMode("append").start()

    val t0 = 1733333100000L
    input.addData((t0, 10L, "X"))
    q.processAllAvailable()
    // inside the horizon: suppressed
    input.addData((t0 + 60 * 1000, 11L, "X"))
    q.processAllAvailable()
    // advance the watermark far past t0 + 10min, evicting X's state …
    input.addData((t0 + 60 * 60 * 1000, 12L, "W"))
    q.processAllAvailable()
    // … so a far-later X is a NEW first-seen (the documented horizon trade)
    input.addData((t0 + 61 * 60 * 1000, 13L, "X"))
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("sdh_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L, 13L),
      "11 suppressed inside horizon; 13 re-admitted after state eviction")
  }

  test("LSH band owner: flags equal the batch replay under ANY slicing of " +
      "an ingestion-ordered stream") {
    // The streaming_lsh_dedup_ingest invariant: for doc_id-monotone
    // arrival (the staging contract), the per-band running-min state
    // emits identical flags whether the stream arrives as one batch,
    // three, or one-row-per-trigger — and they equal the batch
    // first-seen-per-band computation the DuckDB oracle replays.
    implicit val sqlCtx = spark.sqlContext
    // several bands, shared across docs; ordered by doc_id
    val pairs = Seq(
      1L -> "b2", 2L -> "b1", 3L -> "b1", 4L -> "b2", 5L -> "b3",
      6L -> "b1", 7L -> "b3", 8L -> "b4", 9L -> "b2", 10L -> "b4")
    def run(batches: Seq[Seq[(Long, String)]], name: String): Set[(Long, String, Boolean)] = {
      GraftSession.withConf(spark, GraftSession.RocksDbStateStore) {
        val input = MemoryStream[(Long, String)]
        val flags = DocStream.bandFlags(input.toDF().toDF("doc_id", "band"), None)
        val q = flags.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
          .outputMode("append").start()
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        q.stop()
        spark.table(name).as[StatefulAgg.BandFlag].collect()
          .map(f => (f.doc_id, f.band, f.dup)).toSet
      }
    }
    val one = run(Seq(pairs), "band_one")
    val three = run(Seq(pairs.take(4), pairs.slice(4, 7), pairs.drop(7)), "band_three")
    val rowwise = run(pairs.map(Seq(_)), "band_rowwise")
    val firsts = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val want = pairs.map { case (d, b) => (d, b, firsts(b) < d) }.toSet
    assert(one == want, s"single-batch flags diverge from batch replay: $one")
    assert(three == want && rowwise == want,
      "flags depend on micro-batch boundaries")
  }

  test("BandOwnerTtl: horizon semantics equal the LAG rule under any " +
      "slicing, and timers actually delete expired state rows") {
    implicit val sqlCtx = spark.sqlContext
    val H = 5L
    // per band, arrivals straddling the horizon: gaps <=5 keep the run
    // alive (dup), a gap >5 breaks it (re-admitted as a new first-seen)
    val pairs = Seq(
      1L -> "b1", 3L -> "b1",               // gap 2: dup
      2L -> "b2",
      10L -> "b1",                          // gap 7 > 5: NOT dup
      12L -> "b1", 14L -> "b2",             // gaps 2 / 12: dup / not
      30L -> "b3", 33L -> "b1", 34L -> "b3") // 33: gap 21, not; 34: gap 4, dup
    def run(batches: Seq[Seq[(Long, String)]], name: String)
        : (Set[(Long, String, Boolean)], Long) = {
      GraftSession.withConf(spark, GraftSession.RocksDbStateStore) {
        val input = MemoryStream[(Long, String)]
        val flags = DocStream.bandFlags(input.toDF().toDF("doc_id", "band"), Some(H))
        val q = flags.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", SparkSuite.scratchDir("graft-ckpt"))
          .outputMode("append").start()
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        q.stop()
        (spark.table(name).as[StatefulAgg.BandFlag].collect()
          .map(f => (f.doc_id, f.band, f.dup)).toSet, stateRows)
      }
    }
    // the LAG rule: dup <=> previous arrival of the band within H
    val byBand = pairs.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val want = pairs.map { case (d, b) =>
      val prev = byBand(b).filter(_ < d).lastOption
      (d, b, prev.exists(d - _ <= H))
    }.toSet
    val (one, _) = run(Seq(pairs.sortBy(_._1)), "ttl_one")
    val sorted = pairs.sortBy(_._1)
    val (three, _) = run(
      Seq(sorted.take(4), sorted.slice(4, 7), sorted.drop(7)), "ttl_three")
    val (rowwise, endState) = run(sorted.map(Seq(_)), "ttl_rowwise")
    assert(one == want, s"single-batch TTL flags diverge from the LAG rule: $one")
    assert(three == want && rowwise == want,
      "TTL flags depend on micro-batch boundaries")
    // footprint: by the last batch (doc 34, watermark 33 s after the
    // prior batch) every band whose lastSeen + H + 1 <= 33 must be GONE —
    // b2 (lastSeen 14) expired; b1 (re-seen at 33) and b3 (30, 34) live
    assert(endState <= 2 + 1, // live value-state rows + timer slack
      s"expired band state not deleted: $endState rows at end")
  }
}
