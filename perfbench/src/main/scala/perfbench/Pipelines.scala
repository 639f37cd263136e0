package perfbench

import graft.cdc.{CdcSchemas, EnvelopeReader, Scd2}
import graft.serving.ServingLayer
import graft.streaming.Scd2Streaming
import graft.streaming.Scd2Streaming.{KeyEvent, VersionRow}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** Order-independent content checksum of an SCD2 history relation: the sum
  * over rows of a 48-bit md5 prefix of the row's canonical text. The input
  * generator computes the same sum with DuckDB over the reference SQL's
  * output (`ROW_HASH` in gen.py); keep the two formulas identical.
  */
object Checksum {
  val RowHash: String =
    """CAST(conv(substr(md5(concat_ws('|', CAST(id AS STRING),
      |  coalesce(name, '~'), coalesce(description, '~'),
      |  coalesce(CAST(CAST(round(price * 100) AS BIGINT) AS STRING), '~'),
      |  CAST(unix_millis(row_valid_start_timestamp) AS STRING),
      |  CAST(unix_millis(row_valid_expiration_timestamp) AS STRING))), 1, 12), 16, 10)
      |  AS DECIMAL(38, 0))""".stripMargin

  /** (row count, checksum as a decimal string). */
  def of(df: DataFrame): (Long, String) = {
    val r = df.selectExpr(s"count(1)", s"coalesce(sum($RowHash), 0)").head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}

/** The reference's batch job, one layer per public call: parse
  * (`EnvelopeReader.readEnvelopes`), normalize (`Scd2.cdcEvents`), rank
  * (`Scd2.rankedEvents`, the one shuffle), project (`Scd2.history`) and
  * publish (`ServingLayer.saveHistory` plus the current-state view).
  */
object Batch {
  val Attrs: Seq[String] = Seq("name", "description", "price")
  val Layers: Seq[String] = Seq("parse", "normalize", "rank", "project", "publish")

  def parse(spark: SparkSession, lake: String): DataFrame =
    EnvelopeReader.readEnvelopes(spark, lake, CdcSchemas.productsRow)
  def normalize(spark: SparkSession, lake: String): DataFrame = Scd2.cdcEvents(parse(spark, lake))
  def rank(spark: SparkSession, lake: String): DataFrame = Scd2.rankedEvents(normalize(spark, lake))
  def project(spark: SparkSession, lake: String): DataFrame = Scd2.history(rank(spark, lake), Attrs)

  def publish(spark: SparkSession, lake: String, table: String): Unit = {
    ServingLayer.saveHistory(project(spark, lake), table)
    ServingLayer.createCurrentStateView(spark, table, view(table))
  }

  def view(table: String): String = table.replace('.', '_') + "_current"

  /** Materialize a layer prefix without writing it anywhere. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def attrsOf(struct: String): Seq[Column] = Attrs.map(a => col(s"$struct.$a"))

  /** The job through `layer`, cut down to the columns the later layers
    * read. The full job lets the optimizer prune the rest (the `before`
    * image, the operation type, the row number), so a prefix that kept
    * them would do work the job never does; cut down, each prefix is a
    * part of the next.
    */
  def prefix(layer: String): (SparkSession, String) => DataFrame = layer match {
    case "parse" => (s, l) => parse(s, l).select(Seq(col("payload.op"),
      col("payload.before.id").as("before_id"), col("payload.after.id").as("after_id")) ++
      attrsOf("payload.after") ++ Seq(col("payload.source.lsn"), col("payload.ts_ms")): _*)
    case "normalize" => (s, l) => normalize(s, l).select((col("id") +: attrsOf("after_row_value")) ++
      Seq(col("log_seq_num"), col("source_timestamp")): _*)
    case "rank" => (s, l) => rank(s, l).select((col("id") +: attrsOf("after_row_value")) ++
      Seq(col("source_timestamp"), col("next_change_timestamp")): _*)
    case "project" => project
  }

  def partFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.startsWith("part-"))
}

/** A seeded serving lookup against the published history. */
sealed trait Lookup
final case class AsOf(id: Int, tsMs: Long) extends Lookup
final case class Live(lo: Int, hi: Int) extends Lookup

object Serve {
  def load(path: String): Seq[Lookup] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map(_.split('\t')).map {
      case Array("asof", id, ts) => AsOf(id.toInt, ts.toLong)
      case Array("live", lo, hi) => Live(lo.toInt, hi.toInt)
      case other => sys.error(s"bad lookup line: ${other.mkString(" ")}")
    }.toVector
    finally src.close()
  }

  /** As-of point lookups read the current-state view; live key-range
    * lookups go through `Scd2.currentStateLive` over the table.
    */
  def query(spark: SparkSession, table: String, l: Lookup): DataFrame = l match {
    case AsOf(id, ts) =>
      val t = timestamp_millis(lit(ts))
      spark.table(Batch.view(table))
        .filter(col("id") === id && col("row_valid_start_timestamp") <= t &&
          col("row_valid_expiration_timestamp") > t)
        .drop("is_current")
    case Live(lo, hi) =>
      Scd2.currentStateLive(spark.table(table), Batch.Attrs).filter(col("id").between(lo, hi))
  }

  /** Checksums of many small answers in one job: (count, checksum) per answer. */
  def answers(spark: SparkSession, schema: StructType, rows: Seq[Array[Row]]): Seq[(Long, String)] = {
    val tagged = rows.zipWithIndex.flatMap { case (rs, i) => rs.map(r => Row.fromSeq(i +: r.toSeq)) }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(tagged: _*), StructType(StructField("__q", IntegerType) +: schema.fields))
    val got = df.groupBy("__q").agg(expr("count(1)"), expr(s"sum(${Checksum.RowHash})")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2).toBigInteger.toString)).toMap
    rows.indices.map(i => got.getOrElse(i, (0L, "0")))
  }

  /** Every plan node of an executed plan, looking through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** (files, rows) the lookup's file scans produced, from SQL metrics. */
  def scanCounts(df: DataFrame): (Long, Long) = {
    val scans = nodes(df.queryExecution.executedPlan).filter(_.metrics.contains("numFiles"))
    (scans.map(_.metrics("numFiles").value).sum,
      scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }
}

/** One AvailableNow drain of the envelope slices through
  * `Scd2Streaming.incremental` into the benchmark's own parquet sink.
  */
final case class Drain(wallS: Double, progress: Seq[StreamingQueryProgress],
                       sinkMs: Seq[Double], sinkRows: Seq[Long], sink: String) {
  def data: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
  def triggerMs: Seq[Double] = data.map(p => p.durationMs.get("triggerExecution").doubleValue)
  def inputRows: Long = data.map(_.numInputRows).sum
}

object Stream {
  /** Typed events built from the public `Scd2.cdcEvents` output. */
  def events(spark: SparkSession, slices: String): Dataset[KeyEvent] = {
    import spark.implicits._
    val env = Scd2Streaming.readEnvelopeStream(spark, slices, CdcSchemas.productsRow,
      maxFilesPerTrigger = 1)
    Scd2.cdcEvents(env).filter(col("id").isNotNull)
      .select(col("id"), col("log_seq_num").as("lsn"),
        unix_millis(col("source_timestamp")).as("tsMs"),
        map(Batch.Attrs.flatMap(a => Seq(lit(a), col(s"after_row_value.$a").cast("string"))): _*)
          .as("attrs"),
        col("operation_type").as("op"))
      .as[KeyEvent]
  }

  def drain(spark: SparkSession, slices: String, dir: String, tracer: Tracer): Drain = {
    Files.remove(dir)
    val sink = s"$dir/sink"
    val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val sinkRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val parent = tracer.current
    val t0 = System.nanoTime()
    val q = Scd2Streaming.incremental(events(spark, slices))
      .writeStream
      .foreachBatch { (b: Dataset[VersionRow], id: Long) =>
        val s0 = System.nanoTime()
        val obs = Observation(s"sink_$id")
        b.observe(obs, count(lit(1)).as("rows")).withColumn("batch_id", lit(id))
          .write.mode("append").parquet(sink)
        val s1 = System.nanoTime()
        sinkRows.add(obs.get("rows").asInstanceOf[Long])
        sinkMs.add((s1 - s0) / 1e6)
        tracer.record("stream.sink", parent, s0, s1)
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    Drain(wall, q.recentProgress.toSeq, sinkMs.asScala.toSeq, sinkRows.asScala.toSeq, sink)
  }

  /** The converged history in the sink: the last emission of each
    * (id, lsn) version, shaped like the batch history.
    */
  def converged(spark: SparkSession, sink: String): DataFrame = {
    val last = Window.partitionBy("id", "lsn").orderBy(col("batch_id").desc)
    spark.read.parquet(sink)
      .withColumn("__rn", row_number().over(last)).filter(col("__rn") === 1)
      .select(col("id"), col("attrs")("name").as("name"),
        col("attrs")("description").as("description"),
        col("attrs")("price").cast("double").as("price"),
        timestamp_millis(col("rowValidStartMs")).as("row_valid_start_timestamp"),
        timestamp_millis(col("rowValidExpirationMs")).as("row_valid_expiration_timestamp"))
  }

  def stateRowsFinal(d: Drain): Long =
    d.data.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
}

object Files {
  def remove(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
      ()
    }
    rm(new java.io.File(path))
  }

  /** Copy the first `n` files of a slice directory, keeping their mtimes. */
  def copySlices(from: String, to: String, n: Int): String = {
    remove(to)
    new java.io.File(to).mkdirs()
    new java.io.File(from).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .take(n).foreach { f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(to, f.getName).toPath,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    to
  }
}
