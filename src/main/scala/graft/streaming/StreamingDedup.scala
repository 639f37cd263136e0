package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact deduplication: the continuous form of
  * [[graft.dedup.Dedup.exact]] for corpora that arrive as a stream (the
  * reference's transport is exactly this shape — a continuous Kafka feed
  * landing in object storage). Each distinct content fingerprint's FIRST
  * document is emitted; every later duplicate is suppressed by keyed state.
  *
  * Scale story: state is one small entry per distinct fingerprint, hash
  * partitioned across executors — the stream never joins against the
  * accumulated corpus. Unbounded distinct content still means unbounded
  * state, so production picks one of two bounds, both provided here:
  *
  *  - [[firstSeen]]: explicit keyed state, no horizon — for corpora whose
  *    distinct-hash cardinality fits state storage (RocksDB-backed at
  *    scale; see Scd2StreamingSpec's RocksDB run for the provider conf).
  *    Deterministic canonical choice: min docId within a trigger wins,
  *    matching the batch operator's `min(doc_id)` tie-break.
  *  - [[firstSeenWithinHorizon]]: engine-native
  *    `dropDuplicatesWithinWatermark`, state bounded by the event-time
  *    horizon — duplicates are only suppressed within the watermark delay
  *    (the same retention contract as Scd2Streaming's incremental mode);
  *    a periodic batch `Dedup.exact` backfill catches horizon-crossing
  *    duplicates.
  *
  * Near-dup (MinHash/SimHash) streaming dedup is deliberately NOT a keyed
  * stateful op: candidate lookup crosses band buckets, so the streaming
  * form is micro-batch `foreachBatch` joins against the persisted
  * signature index — composition of existing operators, not new state.
  */
object StreamingDedup {

  /** One incoming document: id + its content fingerprint (computed
    * upstream with [[graft.text.TextOps.fingerprintMd5]]).
    */
  case class DocRecord(docId: Long, contentHash: String)

  /** Per-fingerprint state: the id we kept. */
  case class SeenState(keepId: Long)

  /** flatMapGroupsWithState body — exposed for direct unit testing with
    * TestGroupState.
    */
  def firstSeenUpdate(hash: String, incoming: Iterator[DocRecord],
                      state: GroupState[SeenState]): Iterator[DocRecord] = {
    if (state.exists) Iterator.empty
    else {
      val keep = incoming.minBy(_.docId)
      state.update(SeenState(keep.docId))
      Iterator.single(keep)
    }
  }

  /** First-seen dedup over a document stream (append mode, state lives
    * until the stream ends — see the class doc for when that's the right
    * bound).
    */
  def firstSeen(docs: Dataset[DocRecord]): Dataset[DocRecord] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.contentHash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        firstSeenUpdate)
  }

  /** Horizon-bounded first-seen dedup: suppress duplicates arriving within
    * `horizon` (event time) of the kept document; state for a fingerprint
    * is evicted once the watermark passes, so storage is
    * O(distinct hashes per horizon), not O(corpus). Expects `tsCol` to be
    * an event-time timestamp column and `hashCol` the fingerprint.
    */
  def firstSeenWithinHorizon(docs: DataFrame, tsCol: String, hashCol: String,
                             horizon: String): DataFrame =
    docs.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark(hashCol)
}
