package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation over the testdata
  * tables plus (when SQL-expressible) an equivalent DuckDB oracle.
  *
  * Contract (driver harness): the oracle runs on the same parquet tables;
  * results are compared after sorting columns by name, so every computed
  * column is aliased identically on both sides. Floating-point columns are
  * routed through exact decimal arithmetic (or exact-in-double integer
  * sums) so the comparison is bit-exact, not approximate — see
  * `graft.operators` Scaladocs.
  */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Included in the Bench headline set (run at sf0.1). */
    bench: Boolean = true,
    /** Invoking `spark` executes a full job (a multi-trigger streaming run)
      * rather than returning a lazy plan; plan-only consumers (`Diag plans`)
      * skip these — there is no meaningful batch plan to audit, and the
      * invocation itself would pay the streaming run as a side effect.
      */
    sideEffecting: Boolean = false)

object QueryDef {

  /** Read a testdata table, normalizing the `events.ts` column.
    *
    * The testdata writes `events.ts` as parquet TIMESTAMP(NANOS), which
    * Spark 4 cannot represent natively; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so it arrives as the raw
    * nanosecond Long, and we rebuild a microsecond TIMESTAMP_NTZ here with
    * exact integer division (`div`) — the same floor-truncation DuckDB
    * applies when it narrows NANOS to its microsecond timestamps, so oracle
    * comparisons stay exact. (A double-based division would corrupt the
    * value: epoch-nanos ≈ 1.7e18 exceeds 2^53.)
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" &&
        raw.schema.fields.exists(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType))
      raw.withColumn("ts",
        org.apache.spark.sql.functions.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
    else raw
  }
}
