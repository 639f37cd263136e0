package graft.serving

import java.sql.Timestamp

import graft.GraftSession
import graft.cdc.Scd2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving layer (SURVEY.md §3 E3, §2.1 S8-S11): the reference's contract is
  * "SCD2 + current-state tables queryable by name" (DuckDB file + Superset);
  * ours is managed Spark tables + views over them.
  */
object ServingLayer {

  /** S8: CREATE OR REPLACE TABLE … AS SELECT (transform_scd2.py:20). */
  def saveHistory(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** S9: INSERT INTO … SELECT (scd2.sql:7-12). */
  def appendRows(df: DataFrame, table: String): Unit =
    df.write.mode("append").format("parquet").saveAsTable(table)

  /** S11 rewrite: the UPDATE-closeout becomes read-modify-overwrite — the
    * new full table state is computed as a DataFrame and replaces the old
    * (vanilla parquet has no in-place mutation; this is also the
    * reference's own flagship shape, a full CREATE OR REPLACE).
    *
    * Implemented as stage-and-swap: the new state is written to a staging
    * table first (Spark refuses to overwrite a table the plan reads from,
    * and caching wouldn't survive executor loss at 100 TB), then renamed
    * over the target. Never materializes on the driver.
    */
  def overwriteWith(spark: SparkSession, table: String,
                    newState: DataFrame): Unit = {
    val staging = table + "__staging"
    spark.sql(s"DROP TABLE IF EXISTS $staging") // leftover from a failed run
    newState.write.mode("overwrite").format("parquet").saveAsTable(staging)
    // NOTE: the drop→rename pair is not atomic — a crash in between leaves
    // the data under the staging name and readers see a missing table until
    // it is renamed back. True atomic swap needs a transactional catalog
    // (Delta/Iceberg), out of scope on vanilla parquet; the window is
    // metadata-only (no data rewrite happens inside it).
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** S11 at scale: partition-scoped overwrite. A full stage-and-swap
    * rewrites the entire table even when a micro-batch touched one day;
    * dynamic partition overwrite replaces ONLY the partitions present in
    * `updates`, leaving every other partition's files byte-untouched — at
    * 100 TB that's the difference between rewriting the lake and rewriting
    * a day. Columns must match the table's schema positionally
    * (`insertInto` contract), partition column(s) last.
    */
  def overwritePartitions(updates: DataFrame, table: String): Unit = {
    val spark = updates.sparkSession
    // the DataFrameWriter-level option is not honored on catalog
    // insertInto — scope the session conf to this write and restore it
    GraftSession.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      updates.write.mode("overwrite").insertInto(table)
    }
  }

  /** Bucketed managed table: pre-shuffles once at write time so that
    * subsequent equi-joins/aggregations on `bucketCol` between tables with
    * matching bucketing read co-located data and plan with NO exchange —
    * the 100 TB answer to repeated fact⋈fact joins (verified shuffle-free
    * in PlanSpec). `sortCol` additionally makes the join merge-ready
    * without a per-task sort.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** S10: view over the history table exposing the `is_current` derivation
    * (init_duckdb.sh:28-35 variant schema).
    */
  def createCurrentStateView(spark: SparkSession, historyTable: String,
                             viewName: String,
                             sentinel: Timestamp = Scd2.DefaultSentinel): Unit =
    spark.table(historyTable)
      .withColumn("is_current",
        col("row_valid_expiration_timestamp") === lit(sentinel))
      .createOrReplaceTempView(viewName)
}
