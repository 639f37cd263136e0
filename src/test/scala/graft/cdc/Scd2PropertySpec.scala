package graft.cdc

import graft.{GraftSession, SparkSuite}
import graft.streaming.{BoundedStream, Scd2Streaming}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5.2.3): ∀ random event sequences —
  * (a) per-key validity intervals chain start→sentinel without gaps;
  * (b) the result is invariant under input shuffling;
  * (c) current state == max-lsn event per key;
  * (d) the streaming path (envelopes → [[Scd2Streaming.keyEvents]] →
  *     [[Scd2Streaming.incremental]]) converges to the batch
  *     [[Scd2.transform]] however the envelopes are cut into micro-batches
  *     and redelivered.
  * (Raw ScalaCheck generators with fixed seeds — the scalatest bridge
  * module isn't on the offline classpath.)
  */
class Scd2PropertySpec extends SparkSuite {

  private val eventGen: Gen[List[(Int, Long, Long, String)]] = for {
    n <- Gen.choose(1, 40)
    evs <- Gen.listOfN(n, for {
      id <- Gen.choose(1, 5)
      lsn <- Gen.choose(1L, 10000L)
      ts <- Gen.choose(1733000000000L, 1733999999000L)
      name <- Gen.alphaStr.map(_.take(8))
    } yield (id, lsn, ts, name))
  } yield evs.distinctBy(e => (e._1, e._2)) // unique (id, lsn)

  private def toEvents(evs: List[(Int, Long, Long, String)]) = {
    import spark.implicits._
    evs.toDF("id", "log_seq_num", "ts_ms", "name")
      .select(col("id"),
        struct(col("name")).as("after_row_value"),
        lit(null).cast("struct<name:string>").as("before_row_value"),
        lit("UPDATE").as("operation_type"),
        col("log_seq_num"),
        timestamp_millis(col("ts_ms")).as("source_timestamp"))
  }

  test("intervals chain per key; shuffle-invariant; current == max-lsn event") {
    for (seed <- 1 to 12) {
      val evs = eventGen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(Nil)
      if (evs.nonEmpty) {
        def collectRows(input: List[(Int, Long, Long, String)]) =
          Scd2.history(Scd2.rankedEvents(toEvents(input)), Seq("name"))
            .collect()
            .map(r => (r.getInt(0), r.getString(1),
              r.getAs[java.sql.Timestamp]("row_valid_start_timestamp").getTime,
              r.getAs[java.sql.Timestamp]("row_valid_expiration_timestamp").getTime))
            .sortBy(t => (t._1, t._3, t._4, t._2)).toSeq

        // expected chain: per key, events in LSN order; interval =
        // [ts_i, ts_{i+1}) with the last closed by the sentinel. NOTE the
        // chain is LSN-ordered — ts is independent of lsn, so intervals may
        // be "backwards" in wall-clock; the reference has the same property.
        val sentinelMs = Scd2.DefaultSentinel.getTime
        val expected = evs.groupBy(_._1).toSeq.flatMap { case (id, es) =>
          val ordered = es.sortBy(_._2)
          ordered.zipWithIndex.map { case ((_, _, ts, name), i) =>
            val end = if (i + 1 < ordered.length) ordered(i + 1)._3 else sentinelMs
            (id, name, ts, end)
          }
        }.sortBy(t => (t._1, t._3, t._4, t._2))

        assert(collectRows(evs) == expected, s"seed=$seed: history != expected chain")
        assert(collectRows(scala.util.Random.shuffle(evs)) == expected,
          s"seed=$seed: not shuffle-invariant")

        val currents = Scd2.currentState(
          Scd2.history(Scd2.rankedEvents(toEvents(evs)), Seq("name")))
          .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
        val expectedCur = evs.groupBy(_._1).map { case (id, es) => id -> es.maxBy(_._2)._4 }
        assert(currents == expectedCur, s"seed=$seed: current-state mismatch")
      }
    }
  }

  /** A random change log of one table as envelope lines: creates, updates,
    * snapshot reads and deletes (before image only) with unique (id, lsn),
    * plus op-less malformed lines both paths must drop. Timestamps stay
    * inside one day, so the stream's 7-day retention never compacts a key
    * and the converged chain is exact (past the horizon it is documented
    * to lose correction fidelity).
    */
  private def envelopeGen(image: (Int, Int) => String): Gen[List[String]] = for {
    n <- Gen.choose(1, 30)
    evs <- Gen.listOfN(n, for {
      id <- Gen.choose(1, 5)
      lsn <- Gen.choose(1L, 10000L)
      ts <- Gen.choose(1733000000000L, 1733000000000L + 86400000L)
      v <- Gen.choose(0, 999)
      op <- Gen.oneOf("c", "u", "u", "u", "r", "d", null)
    } yield (id, lsn, ts, v, op))
  } yield evs.distinctBy(e => (e._1, e._2)).map { case (id, lsn, ts, v, op) =>
    if (op == "d") CdcFixtures.envelope(image(id, v), "null", op, ts, lsn)
    else CdcFixtures.envelope("null", image(id, v), op, ts, lsn)
  }

  /** Cut `lines` into 1–4 micro-batches of a random permutation; every
    * batch after the first also redelivers about a fifth of the lines of
    * the batches before it.
    */
  private def microBatches(lines: List[String], rnd: scala.util.Random): Seq[Seq[String]] = {
    val shuffled = rnd.shuffle(lines)
    val cuts = Seq.fill(rnd.nextInt(4))(rnd.nextInt(shuffled.size + 1)).sorted
    val chunks = (0 +: cuts).zip(cuts :+ shuffled.size).map { case (a, b) => shuffled.slice(a, b) }
    chunks.indices.map { i =>
      chunks(i) ++ chunks.take(i).flatten.filter(_ => rnd.nextInt(5) == 0)
    }
  }

  private def streamVsBatch(rowSchema: StructType, attrs: Seq[String],
                            image: (Int, Int) => String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- 1 to 3) {
      val lines = envelopeGen(image)(Gen.Parameters.default, Seed(seed.toLong)).getOrElse(Nil)
      val batches = microBatches(lines, new scala.util.Random(seed))

      val sink = SparkSuite.scratchDir("scd2-prop-sink") + "/emissions"
      GraftSession.withConf(spark, GraftSession.RocksDbStateStore) {
        val input = MemoryStream[String]
        val versions = Scd2Streaming.incremental(Scd2Streaming.keyEvents(
          Scd2Streaming.parseKafkaValue(input.toDF(), rowSchema), attrs))
        val q = versions.writeStream
          .option("checkpointLocation", SparkSuite.scratchDir("scd2-prop-ckpt"))
          .foreachBatch(BoundedStream.appendTagged[Scd2Streaming.VersionRow](sink) _).start()
        try batches.foreach { chunk => input.addData(chunk); q.processAllAvailable() }
        finally q.stop()
      }
      val batch = Scd2PropertySpec.rebuilt(
        Scd2Streaming.parseKafkaValue(lines.toDF("value"), rowSchema), attrs)
      assert(Scd2PropertySpec.converged(spark.read.parquet(sink), attrs) == batch,
        s"seed=$seed batches=${batches.map(_.size)}: stream did not converge to the batch rebuild")
    }
  }

  test("keyEvents → incremental converges to the batch rebuild: products, any micro-batching") {
    streamVsBatch(CdcSchemas.productsRow, Seq("name", "description", "price"),
      (id, v) => CdcFixtures.productRow(Some(id), s"n$v", s"d$v", v * 1.5))
  }

  test("keyEvents → incremental converges to the batch rebuild: users, any micro-batching") {
    streamVsBatch(CdcSchemas.usersRow, Seq("username", "password"),
      (id, v) => CdcFixtures.userRow(Some(id), s"u$v", s"p$v"))
  }
}

object Scd2PropertySpec {
  type Version = (Int, List[String], Long, Long) // id, attrs, start ms, end ms

  /** The stream's converged history ([[BoundedStream.converged]] over
    * [[Scd2Streaming.VersionKey]]) from its emissions, each with its
    * `batch_id`.
    */
  def converged(emissions: DataFrame, attrs: Seq[String]): Seq[Version] =
    BoundedStream.converged(emissions, Scd2Streaming.VersionKey)
      .select(col("id") +: attrs.map(a => col("attrs")(a)) :+
        col("rowValidStartMs") :+ col("rowValidExpirationMs"): _*)
      .collect().toSeq
      .map(r => (r.getInt(0), attrs.indices.map(i => r.getString(i + 1)).toList,
        r.getLong(attrs.size + 1), r.getLong(attrs.size + 2)))
      .sortBy(_.toString)

  /** The batch [[Scd2.transform]] of `envelopes`, in the same form. */
  def rebuilt(envelopes: DataFrame, attrs: Seq[String]): Seq[Version] =
    Scd2.transform(envelopes, attrs)
      .select(col("id") +: attrs.map(a => col(a).cast("string")) :+
        col("row_valid_start_timestamp") :+ col("row_valid_expiration_timestamp"): _*)
      .collect().toSeq
      .map(r => (r.getInt(0), attrs.indices.map(i => r.getString(i + 1)).toList,
        r.getTimestamp(attrs.size + 1).getTime, r.getTimestamp(attrs.size + 2).getTime))
      .sortBy(_.toString)
}
