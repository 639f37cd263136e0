package graft.streaming

import graft.{AtomicPublish, QueryDef, ScaleSmoke}
import graft.streaming.StatefulAgg.{BandFlag, BandOwner, BandOwnerTtl}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TimeMode}

/** The `documents` corpus as a replay stream, and the LSH at-ingest dedup
  * over it: one slicer, one stream read, one band kernel, one band-owner
  * stream and one fold of its flags, for the catalog queries
  * (`streaming_lsh_dedup_ingest`, `streaming_lsh_dedup_ttl`,
  * `streaming_cms_maintain`) and the throughput legs alike. They differ in
  * the number of corpus copies and slices and in the sink's reader.
  */
object DocStream {

  /** `documents` × `copies`: copy k offsets every doc_id by k · (max
    * doc_id + 1) and rotates its text through a per-copy alphabet
    * ([[ScaleSmoke.rotatedText]]), so copies share no tokens and band
    * state grows with the corpus. Copy 0 is the corpus itself.
    */
  def scaled(spark: SparkSession, sfDir: String, copies: Int): DataFrame = {
    val docs = QueryDef.t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    docs.crossJoin(broadcast(docs.agg((max(col("doc_id")) + 1).as("span"))))
      .withColumn("copy", explode(lit((0 until copies).toArray)))
      .select((col("doc_id") + col("copy") * col("span")).as("doc_id"),
        ScaleSmoke.rotatedText(col("text"), col("copy"), copies).as("text"))
  }

  /** Stage [[scaled]] as `slices` mtime-ordered parquet files cut into
    * contiguous doc_id ranges, so arrival order is corpus order: the
    * band owners' first-seen flags assume doc_id is monotone across
    * batches. The range bounds come from a broadcast one-row min/max.
    * One [[AtomicPublish.derived]] lake per (source lake, copies, slices),
    * generation [[graft.operators.StreamingQueries.CacheGen]]: the cached
    * catalog results read it, so a change to this code rebuilds it.
    */
  def ensureSlices(spark: SparkSession, sfDir: String, copies: Int, slices: Int): String =
    AtomicPublish.derived(s"graft_stream_doclake_${copies}x_$slices", sfDir,
        s"copies=$copies slices=$slices", graft.operators.StreamingQueries.CacheGen) { tmp =>
      val docs = scaled(spark, sfDir, copies)
      val bounds = docs.agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      val sliced = docs.crossJoin(broadcast(bounds))
        .withColumn("slice", least(lit(slices - 1),
          floor((col("doc_id") - col("d0")) * slices / (col("d1") - col("d0") + 1)).cast("int")))
      (0 until slices).foreach { i =>
        BoundedStream.writeSlice(sliced.filter(col("slice") === i).select("doc_id", "text"),
          s"$tmp/b$i", i)
      }
    }

  /** The slices of an [[ensureSlices]] lake as a stream, one per trigger. */
  def read(spark: SparkSession, lake: String): DataFrame =
    spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$lake/b*/part-*.parquet")

  /** The band kernel, batch or stream: a MinHash(16, 3) signature per
    * document of at least 3 tokens, cut into 8 band digests of 2 rows,
    * one (doc_id, band) row per band.
    */
  def bands(docs: DataFrame): DataFrame = docs
    .filter(size(split(col("text"), " ")) >= 3)
    .select(col("doc_id"),
      graft.functions.GraftFunctions.minhashSignature(col("text"), 16, 3).as("sig"))
    .select(col("doc_id"), explode(graft.dedup.Dedup.lshBandDigests(col("sig"), 8, 2)).as("band"))

  /** A (doc_id, band) stream → its [[BandFlag]]s, keyed by band. Without a
    * horizon the state is [[BandOwner]] (first seen per band, forever);
    * with one it is [[BandOwnerTtl]], whose event clock is doc_id
    * (`timestamp_seconds(doc_id)`, 0 s watermark): on a doc_id-monotone
    * stream the watermark says every later arrival is past this id.
    */
  def bandFlags(bands: DataFrame, horizonDocs: Option[Long]): Dataset[BandFlag] = {
    import bands.sparkSession.implicits._
    val (clocked, processor, timeMode) = horizonDocs match {
      case None =>
        (bands, new BandOwner: StatefulProcessor[String, (Long, String), BandFlag], TimeMode.None())
      case Some(h) =>
        (bands.withColumn("ts", timestamp_seconds(col("doc_id"))).withWatermark("ts", "0 seconds"),
          new BandOwnerTtl(h), TimeMode.EventTime())
    }
    clocked.select("doc_id", "band").as[(Long, String)]
      .groupByKey(_._2)
      .transformWithState(processor, timeMode, OutputMode.Append())
  }

  /** The one LSH band-owner stream: the slices of `lake` → [[bands]] →
    * [[bandFlags]], checkpointed under `<dir>/ckpt`, every flag appended
    * to `<dir>/flags`.
    */
  def startBandOwner(spark: SparkSession, lake: String, horizonDocs: Option[Long],
                     dir: String): StreamingQuery =
    BoundedStream.startStateful(bandFlags(bands(read(spark, lake)), horizonDocs),
        s"$dir/ckpt") { (b, _) =>
      b.write.mode("append").parquet(s"$dir/flags")
    }

  /** Per document of the flags: how many of its bands an earlier
    * document owns, and whether any.
    */
  def dupCounts(flags: DataFrame): DataFrame = {
    val dupBands = sum(when(col("dup"), 1L).otherwise(0L))
    flags.groupBy("doc_id")
      .agg(dupBands.as("n_dup_bands"), (dupBands > 0).as("is_duplicate"))
  }
}
