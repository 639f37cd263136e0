package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.GraftSession
import graft.cdc.Scd2

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark program for the CDC pipeline: one JVM, one local Spark session.
  *
  * Untraced runs (`--trace 0`) measure one workload end to end and write
  * its end-to-end metrics; the traced run (`--trace 1`) runs both pipelines
  * with spans around every layer call plus Spark listener and progress
  * counters, a tracing-overhead comparison and a `local[1]` baseline, and
  * writes the per-layer metrics plus a trace file. Either way the result
  * file also holds the observed outputs that `run.py` checks against the
  * DuckDB reference.
  *
  * Flags (all `--name value`): workload, trace, seconds, work, out, and
  * per pipeline batch-lake, batch-events, lookups, stream-slices,
  * stream-events; traced runs add run-id and trace-out. Spark runs at
  * `local[nproc]`.
  */
object PerfBench {
  val Table = "perfbench.scd2_history"
  val WarmTable = "perfbench.warm_history"
  val SubsetTable = "perfbench.subset_history"
  /** Set-up cycles per untraced run; `setup_s` takes their median. */
  val SetupCycles = 3
  /** Rebuilds per batch pass, spread over the pass's lookups. */
  val RebuildsPerPass = 8
  /** Lookups in each batch warm-up. */
  val WarmLookups = 16
  /** Lookups the traced run serves with the plan/execute split. */
  val TracedLookups = 20
  /** Timings per prefix and of the full job in the traced batch layer
    * split, and untraced rebuilds it is judged against; medians count.
    * The single-threaded baseline over a subset takes fewer.
    */
  val PrefixReps = 5
  val BaselineReps = 3
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Tail percentile per workload: the highest with at least ten of its
    * samples beyond it (100 lookups per pass; 20 micro-batches per drain).
    */
  val Tail: Map[String, Double] = Map("batch_rebuild" -> 0.90, "stream_replay" -> 0.50)

  final class Flags(args: Array[String]) {
    private val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
  }

  /** Everything one run reports: metrics, observed outputs, operation counts. */
  final class Result {
    val metrics = mutable.Map.empty[String, Double]
    val observed = mutable.Map.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    def write(path: String): Unit = Json.write(path, Map("metrics" -> metrics,
      "observed" -> observed, "attempted" -> attempted, "failed" -> failed))
  }

  def main(args: Array[String]): Unit = {
    val jvmToMainS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val f = new Flags(args)
    val res = new Result
    val meter = new Meter
    try {
      if (f.int("trace") == 1) traced(f, res, meter)
      else untraced(f, res, meter, jvmToMainS)
      res.metrics.getOrElseUpdate("spark.task_failures", meter.failedTasks.toDouble)
    } finally SparkSession.getActiveSession.foreach(_.stop())
    res.write(f("out"))
  }

  private val t0Ns = System.nanoTime()

  /** Progress line in the run log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0Ns) / 1e9}%7.1f s] $msg")

  def session(cores: Int, work: String, meter: Meter): SparkSession = {
    // the catalog is per session but table directories persist: start clean
    Files.remove(s"$work/warehouse")
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(meter)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    spark.sql(s"CREATE DATABASE perfbench LOCATION '$work/warehouse'")
    spark
  }

  /** A full-size rebuild and [[WarmLookups]] lookups: with less, the
    * first measured rebuilds and lookups run on code the JIT has not
    * compiled yet, and their timings still fall through the pass.
    */
  def warmBatch(spark: SparkSession, f: Flags): Unit = {
    Batch.publish(spark, f("batch-lake"), WarmTable)
    Serve.load(f("lookups")).take(WarmLookups).foreach(l => Serve.query(spark, WarmTable, l).collect())
  }

  def warmStream(spark: SparkSession, f: Flags): Unit = {
    val slices = Files.copySlices(f("stream-slices"), s"${f("work")}/warm_slices", 2)
    Stream.drain(spark, slices, s"${f("work")}/warm_stream", new Tracer(false))
  }

  // ---- untraced: one workload, end-to-end metrics ------------------------

  def untraced(f: Flags, res: Result, meter: Meter, jvmToMainS: Double): Unit = {
    val workload = f("workload")
    val batch = workload == "batch_rebuild"
    val cycles = (1 to SetupCycles).map { i =>
      SparkSession.getActiveSession.foreach(_.stop())
      val s = Stats.seconds {
        val spark = session(Cores, f("work"), meter)
        if (batch) warmBatch(spark, f) else warmStream(spark, f)
      }._2
      log(f"setup cycle $i: $s%.1f s")
      s
    }
    log("setup done")
    res.metrics("setup_s") = jvmToMainS + Stats.median(cycles)
    res.observed("setup_cycles_s") = cycles
    val spark = SparkSession.active
    val budgetNs = f.long("seconds") * 1000000000L
    val cpu0 = Stats.cpuCounters
    val t0 = System.nanoTime()
    val eps = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    if (batch) {
      val lookups = Serve.load(f("lookups"))
      val events = f.long("batch-events")
      var answers: Seq[Array[Row]] = Nil
      // a pass republishes before each chunk of the lookups, so its rebuild
      // samples are spread over the pass like the lookups
      val chunks = lookups.grouped((lookups.size + RebuildsPerPass - 1) / RebuildsPerPass).toSeq
      do {
        answers = chunks.flatMap { chunk =>
          eps += events / Stats.seconds(Batch.publish(spark, f("batch-lake"), Table))._2
          chunk.map { l =>
            val (rows, s) = Stats.seconds(Serve.query(spark, Table, l).collect())
            ops += s * 1000
            rows
          }
        }
        res.attempted += chunks.size + lookups.size
      } while (System.nanoTime() - t0 < budgetNs)
      res.observed("measure_s") = (System.nanoTime() - t0) / 1e9
      observeBatch(spark, res, answers)
    } else {
      val events = f.long("stream-events")
      var last: Drain = null
      do {
        last = Stream.drain(spark, f("stream-slices"), s"${f("work")}/stream", new Tracer(false))
        eps += events / last.wallS
        ops ++= last.triggerMs
        res.attempted += 1 + last.data.size
      } while (System.nanoTime() - t0 < budgetNs)
      res.observed("measure_s") = (System.nanoTime() - t0) / 1e9
      observeStream(spark, res, last)
    }
    log("measured and observed")
    res.metrics("events_per_s") = Stats.median(eps.toSeq)
    res.metrics("op_p50_ms") = Stats.median(ops.toSeq)
    res.metrics("op_tail_ms") = Stats.pct(ops.toSeq, Tail(workload))
    res.metrics("peak_rss_mb") = Stats.peakRssMb
    res.observed("events_per_s_samples") = eps
    res.observed("op_ms_samples") = ops
    res.observed("steal_share") = Stats.stealShare(cpu0)
  }

  def observeBatch(spark: SparkSession, res: Result, answers: Seq[Array[Row]]): Unit = {
    val hist = spark.table(Table)
    val (rows, sum) = Checksum.of(hist)
    res.observed("history_rows") = rows
    res.observed("history_checksum") = sum
    res.observed("current_rows") = spark.table(Batch.view(Table)).filter("is_current").count()
    res.observed("live_rows") = Scd2.currentStateLive(hist, Batch.Attrs).count()
    res.observed("lookups") = Serve.answers(spark, hist.schema, answers).map(a => Seq(a._1, a._2))
  }

  def observeStream(spark: SparkSession, res: Result, d: Drain): Unit = {
    val (rows, sum) = Checksum.of(Stream.converged(spark, d.sink))
    res.observed("state_rows_final") = Stream.stateRowsFinal(d)
    res.observed("stream_versions") = rows
    res.observed("stream_checksum") = sum
    res.observed("stream_input_rows") = d.inputRows
    res.observed("stream_layers") = streamMetrics(d)
  }

  // ---- traced: every layer of both pipelines -----------------------------

  /** One traced batch rebuild: the wall time of each prefix (through
    * parse, normalize, rank, project, and the full job), the layer seconds
    * derived from them, and the full job's task counters.
    */
  final case class LayerRun(prefixS: Seq[Double], layers: Map[String, Double],
                            counters: Meter#Counters) {
    def fullS: Double = prefixS.last
  }

  /** Layer seconds of a batch rebuild, from the stages of the median of
    * `reps` runs of the full job. The scan stage holds parse and
    * normalize (one codegen stage); the stages after the shuffle hold rank,
    * project and the parquet write; what remains of the job's wall time is
    * spent outside the stages (planning, job commit, catalog and view),
    * which is publish. Operator metrics cannot split a codegen stage, so
    * each stage is split by the shares its layers add to noop-sink
    * prefixes (parse, +normalize, +rank, +project; see [[Batch.prefix]];
    * median of `reps` timings each): parse gets
    * noop(parse)/noop(normalize) of the scan stage, and the later stages
    * are split in proportion to the growth of the running maximum of the
    * prefix times. The layers sum to the full job's wall time.
    */
  def batchLayers(spark: SparkSession, lake: String, table: String, tr: Tracer, meter: Meter,
                  tag: String, reps: Int): LayerRun = {
    val sc = spark.sparkContext
    def grouped[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    // interleaved, so no prefix always runs first or on a colder JVM
    val prefixes = (1 to reps).map { _ =>
      Batch.Layers.init.map { l =>
        tr(s"$tag.prefix.$l")(Stats.seconds(grouped(s"$tag.$l")(Batch.noop(Batch.prefix(l)(spark, lake))))._2)
      }
    }.transpose.map(Stats.median)
    // the full job as often, each in its own job group; the median one is split
    val (full, fullGroup) = (1 to reps).map { i =>
      tr(s"$tag.full")(Stats.seconds(grouped(s"$tag.full.$i")(Batch.publish(spark, lake, table)))._2) ->
        s"$tag.full.$i"
    }.sortBy(_._1).apply(reps / 2)
    meter.sync(sc)
    val c = meter.group(fullGroup)
    def wall(ss: Seq[(Long, Long, Boolean)]) =
      if (ss.isEmpty) 0.0 else (ss.map(_._2).max - ss.map(_._1).min) / 1000.0
    val (scan, rest) = c.stages.toSeq.partition(_._3)
    val scanS = wall(scan)
    val restS = wall(rest)
    val outsideS = math.max(0.0, full - scanS - restS)
    // running maximum over normalize, rank, project, full: later shares >= 0
    val cum = (prefixes.drop(1) :+ full).scanLeft(0.0)(_ max _).tail
    val grow = cum.zip(cum.head +: cum.init).map { case (a, b) => a - b }.tail // rank, project, write
    val parseShare = math.min(1.0, prefixes(0) / math.max(prefixes(1), 1e-9))
    val afterShuffle = grow.map(g => if (grow.sum > 0) restS * g / grow.sum else restS / 3)
    val layers = Map(
      "parse" -> scanS * parseShare, "normalize" -> scanS * (1 - parseShare),
      "rank" -> afterShuffle(0), "project" -> afterShuffle(1),
      "publish" -> (afterShuffle(2) + outsideS))
    LayerRun(prefixes :+ full, layers, c)
  }

  def traced(f: Flags, res: Result, meter: Meter): Unit = {
    val work = f("work")
    val tr = new Tracer(true)
    val m = res.metrics
    val notes = mutable.Map.empty[String, Any]

    val (spark, buildS) = Stats.seconds(tr("session.build")(session(Cores, work, meter)))
    m("session.build_s") = buildS
    m("session.warmup_s") = Stats.seconds(tr("session.warmup") {
      warmBatch(spark, f)
      warmStream(spark, f)
    })._2
    log("traced: session and warm-up done")
    val gc0 = Stats.gcMs
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // batch: one pass to warm the full-size plan, the traced layer split,
    // then as many untraced passes, whose median judges the layer sum and
    // gives the tracing overhead
    val lake = f("batch-lake")
    Batch.publish(spark, lake, Table)
    val run = tr("batch")(batchLayers(spark, lake, Table, tr, meter, "batch", PrefixReps))
    val untracedBatchS =
      Stats.median((1 to PrefixReps).map(_ => Stats.seconds(Batch.publish(spark, lake, Table))._2))
    val (layers, fullS, c) = (run.layers, run.fullS, run.counters)
    Batch.Layers.foreach(l => m(s"$l.s") = layers(l))
    m("parse.input_bytes") = c.inputBytes.toDouble
    m("parse.input_lines") = c.inputRecords.toDouble
    m("parse.valid_ratio") = c.shuffleWriteRecords.toDouble / c.inputRecords
    m("normalize.events_out") = c.shuffleWriteRecords.toDouble
    m("normalize.dropped") = (c.inputRecords - c.shuffleWriteRecords).toDouble
    m("rank.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble
    m("rank.fetch_wait_ms") = c.fetchWaitMs.toDouble
    m("rank.spill_bytes") = c.spillBytes.toDouble
    val rankTasks = c.taskMsByStage.maxBy(_._1)._2.map(_.toDouble).toSeq
    m("rank.task_max_over_median") = rankTasks.max / math.max(1.0, Stats.median(rankTasks))
    m("project.history_rows") = c.outputRecords.toDouble
    m("publish.bytes_written") = c.outputBytes.toDouble
    m("publish.files_written") = Batch.partFiles(s"$work/warehouse/scd2_history").toDouble
    m("batch.layer_sum_error") = math.abs(layers.values.sum / untracedBatchS - 1)
    m("trace.batch_overhead_s") = fullS - untracedBatchS
    notes("batch_layer_method") =
      "stage walls of the full job (scan stage = parse+normalize; post-shuffle stages = " +
        "rank+project+write; the rest, outside the stages, counted as publish), each stage split " +
        "by the shares its layers add to noop-sink prefix times, each prefix cut down to the " +
        "columns the full job reads"

    log("traced: batch layers done")
    // serve: traced lookups with the plan/execute split and scan counters
    val lookups = Serve.load(f("lookups")).take(TracedLookups)
    val sc = spark.sparkContext
    sc.setJobGroup("serve", "serve")
    val served = tr("serve")(lookups.map { l =>
      tr(s"serve.${l.getClass.getSimpleName.toLowerCase}") {
        val df = Serve.query(spark, Table, l)
        val planMs = Stats.seconds(df.queryExecution.executedPlan)._2 * 1000
        val (rows, execS) = Stats.seconds(df.collect())
        (rows, planMs, execS * 1000, Serve.scanCounts(df))
      }
    })
    sc.clearJobGroup()
    meter.sync(sc)
    val returned = served.map(_._1.length.toLong).sum
    m("serve.plan_ms_p50") = Stats.median(served.map(_._2))
    m("serve.exec_ms_p50") = Stats.median(served.map(_._3))
    m("serve.files_scanned_per_lookup") = served.map(_._4._1).sum.toDouble / served.size
    m("serve.bytes_scanned_per_lookup") = meter.group("serve").inputBytes.toDouble / served.size
    m("serve.rows_examined_per_row_returned") = served.map(_._4._2).sum.toDouble / math.max(1L, returned)
    res.attempted += 1 + lookups.size
    observeBatch(spark, res, served.map(_._1))

    log("traced: serve done")
    // stream: the traced drain of every slice
    val slices = f("stream-slices")
    val d = tr("stream")(Stream.drain(spark, slices, s"$work/stream", tr))
    res.attempted += 1 + d.data.size
    m ++= streamMetrics(d)
    observeStream(spark, res, d)

    log("traced: stream done")
    m("codegen.compilations") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    m("codegen.compile_ms_mean") = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    m("jvm.gc_ms") = (Stats.gcMs - gc0).toDouble

    // single-threaded baseline on a subset: one day of the lake, five slices;
    // the untraced drain of the same slices gives the stream's tracing overhead
    val subLake = s"$lake/year=2024/month=12/day=01"
    val subSlices = Files.copySlices(slices, s"$work/sub_slices", 5)
    val untracedSubS = Stream.drain(spark, subSlices, s"$work/sub_stream", new Tracer(false)).wallS
    def baseline(tag: String, s: SparkSession) = {
      val l = tr(tag)(batchLayers(s, subLake, SubsetTable, tr, meter, tag, BaselineReps))
      val sd = tr(s"$tag.stream")(Stream.drain(s, subSlices, s"$work/sub_stream", tr))
      (l, sd)
    }
    log("traced: untraced subset drain done")
    val (nLayers, nDrain) = baseline("baseline.nproc", spark)
    m("trace.stream_overhead_s") = nDrain.wallS - untracedSubS
    log("traced: nproc baseline done")
    spark.stop()
    // the JVM is warm by now: the local[1] session gets no warm-up of its own
    val one = session(1, work, meter)
    log("traced: local[1] session built")
    val (oneLayers, oneDrain) = baseline("baseline.one", one)
    log("traced: local[1] baseline done")
    // per-layer differences can be ~0 s, so the speedup is taken over the
    // pipeline through each layer
    Batch.Layers.indices.foreach { i =>
      m(s"speedup.to_${Batch.Layers(i)}") = oneLayers.prefixS(i) / nLayers.prefixS(i)
    }
    val (oneStream, nStream) = (streamMetrics(oneDrain), streamMetrics(nDrain))
    Seq("stream_trigger" -> "stream.trigger_ms", "stream_add_batch" -> "stream.add_batch_ms",
      "stream_state_update" -> "state.update_ms", "stream_sink" -> "sink.ms").foreach {
      case (name, k) => m(s"speedup.$name") = oneStream(k) / math.max(1.0, nStream(k))
    }
    notes("baseline") = s"local[1] vs local[$Cores] over day=01 of the lake and the first 5 slices"

    val trace = Map(
      "spans" -> tr.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> f("run-id"))),
      "self_s" -> tr.selfSeconds.toMap,
      "untraced_s" -> Map("batch" -> untracedBatchS, "stream_subset" -> untracedSubS),
      "layers_s" -> Map("nproc_full" -> layers, "nproc_subset" -> nLayers.layers,
        "one_subset" -> oneLayers.layers),
      "prefix_s" -> Map("nproc_full" -> run.prefixS, "nproc_subset" -> nLayers.prefixS,
        "one_subset" -> oneLayers.prefixS),
      "methods" -> notes,
      "metrics" -> m)
    Json.write(f("trace-out"), trace)
  }

  def stateOp(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = p.stateOperators.head

  def phase(d: Drain, k: String): Seq[Double] =
    d.data.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))

  /** Per-trigger medians over the data-carrying batches of one drain. */
  def streamMetrics(d: Drain): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
      "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
      "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
      "triggerExecution" -> "trigger_ms").foreach {
      case (k, name) => m(s"stream.$name") = Stats.median(phase(d, k))
    }
    val starts = d.progress.sortBy(_.batchId)
      .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.get("triggerExecution").doubleValue))
    m("stream.trigger_gap_ms") =
      Stats.median(starts.zip(starts.drop(1)).map { case ((s0, e0), (s1, _)) => s1 - s0 - e0 })
    val ops = d.data.map(stateOp)
    m("state.update_ms") = Stats.median(ops.map(_.allUpdatesTimeMs.toDouble))
    m("state.commit_ms") = Stats.median(ops.map(_.commitTimeMs.toDouble))
    m("state.rows_total") = ops.last.numRowsTotal.toDouble
    m("state.rows_updated") = Stats.median(ops.map(_.numRowsUpdated.toDouble))
    m("state.bytes") = ops.last.memoryUsedBytes.toDouble
    Seq("rocksdbGetLatency" -> "state.rocksdb_get_ms", "rocksdbPutLatency" -> "state.rocksdb_put_ms")
      .foreach { case (k, name) =>
        m(name) = Stats.median(ops.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)))
      }
    m("sink.ms") = Stats.median(d.sinkMs)
    m("sink.rows") = d.sinkRows.sum.toDouble
    m.toMap
  }
}
