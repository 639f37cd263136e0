package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
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
