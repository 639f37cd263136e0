package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticsQueries, CdcQueries, CorpusQueries, CurationQueries, DedupQueries, EnvelopeQueries, MultimodalQueries, PipelineQueries, RelationalQueries, ScalarQueries, SimilarityQueries, StatQueries, StreamingQueries, TextQueries, TpchExtraQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory: CDC/SCD2 semantics (SURVEY.md §2.2/2.5/2.7 over the
  * `events` change log), relational surface (§2.3/2.4/2.6), and the
  * LLM-pipeline extensions (text analysis, dedup, similarity — §7.2 step 8).
  * The envelope-level NDJSON path (§2.1 sources) is exercised by the
  * ScalaTest suite on synthetic Debezium fixtures; its window algebra is the
  * same `graft.cdc.Scd2` code checked here through `scd2_history`.
  */
object SparkEntry {

  val all: Seq[QueryDef] =
    EnvelopeQueries.defs ++ StreamingQueries.defs ++ CdcQueries.defs ++
      RelationalQueries.defs ++ TpchExtraQueries.defs ++ AnalyticsQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++ SimilarityQueries.defs ++
      MultimodalQueries.defs ++ CorpusQueries.defs ++ ScalarQueries.defs ++
      PipelineQueries.defs ++ CurationQueries.defs ++ StatQueries.defs

  require(all.map(_.name).distinct.size == all.size,
    s"duplicate query names would silently drop catalog entries: " +
      all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }.mkString(", "))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Defensive: the driver may hand us a session built without the
    * nanos-as-long flag that `events.parquet` (TIMESTAMP NANOS) needs —
    * set it dynamically (it is a runtime SQLConf), falling back to a
    * lineitem-only flagship if the conf is rejected. The fallback names
    * its cause on stderr, so a broken flagship is never silent.
    */
  def entry(spark: SparkSession): DataFrame = {
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      queries("scd2_history")(spark, "/root/testdata/sf0.001")
    } catch {
      case e: Throwable =>
        System.err.println(s"[entry] scd2_history failed (${e.getClass.getName}: " +
          s"${e.getMessage}); falling back to q1_pricing_summary")
        queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline queries for the sf0.1 bench (excludes the deliberately
    * quadratic oracle-baseline queries). */
  def benchQueries: Seq[String] = all.filter(_.bench).map(_.name)
}
