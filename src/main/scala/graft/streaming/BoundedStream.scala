package graft.streaming

import graft.GraftSession

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one way a stream in this repo is run: drain everything the source
  * holds now (`Trigger.AvailableNow`, still split into its micro-batches by
  * the source's own per-trigger limits), hand each micro-batch to `sink`
  * with its batch id, and keep offsets, commits and state under
  * `checkpoint`. The streaming job is the batch query run incrementally;
  * only the source, the output mode and the sink differ from one pipeline
  * to the next.
  *
  * Returns the started query: callers that just want the result call
  * `awaitTermination()`; the throughput legs keep the handle for its
  * progress history and to stop it mid-flight.
  */
object BoundedStream {

  def start[T](ds: Dataset[T], checkpoint: String, mode: OutputMode = OutputMode.Append())
              (sink: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream
      .outputMode(mode)
      .foreachBatch(sink)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[start]] for a `transformWithState` stream, the one place the
    * RocksDB state-store provider is set ([[GraftSession.RocksDbStateStore]]:
    * column families are RocksDB-only). The provider is set around
    * `start()` alone: the query clones the session when it is created, so
    * the setting holds for the whole run and never reaches the session's
    * other stateful queries. The sink is appended to: the operator's own
    * output mode says whether its rows are updates.
    */
  def startStateful[T](ds: Dataset[T], checkpoint: String)
                      (sink: (Dataset[T], Long) => Unit): StreamingQuery =
    GraftSession.withConf(ds.sparkSession, GraftSession.RocksDbStateStore) {
      start(ds, checkpoint)(sink)
    }

  /** The sink of an emission stream read back by [[converged]]: append
    * each micro-batch to `dir` with the id of the batch that emitted it.
    */
  def appendTagged[T](dir: String)(b: Dataset[T], batchId: Long): Unit =
    b.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(dir)

  /** The converged table from a sink written by [[appendTagged]]: per
    * `keys`, the row the highest batch id emitted, since a later batch
    * re-emits the corrected value of a key it updated. One `max_by` per
    * key, no window. Returns the key columns, then the other columns
    * except `batch_id`.
    */
  def converged(emissions: DataFrame, keys: Seq[String]): DataFrame = {
    val rest = emissions.columns.filterNot((keys :+ "batch_id").contains)
    emissions.groupBy(keys.map(col): _*)
      .agg(max_by(struct(rest.map(col): _*), col("batch_id")).as("v"))
      .select(keys.map(col) ++ rest.map(c => col(s"v.$c").as(c)): _*)
  }

  /** Stage slice `i` of a replay lake: write `df` as one `format` file
    * under `dir` and pin its mtime to the slice's place in the replay. The
    * file source orders new files by modification time, so with one file
    * per trigger the slice order is the trigger order.
    */
  def writeSlice(df: DataFrame, dir: String, i: Int, format: String = "parquet"): Unit = {
    df.coalesce(1).write.mode("overwrite").format(format).save(dir)
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(_.setLastModified(1700000000000L + i * 60000L))
  }
}
