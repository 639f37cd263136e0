package graft

import org.apache.spark.sql.SparkSession

/** The session factory shared by every entry point and the tests.
  *
  * Settings mirror the determinism requirements of the reference pipeline
  * (UTC everywhere — reference pins TZ in connectors/s3-sink.json:27) and
  * local[N] benchmarking (shuffle partitions sized to cores, AQE on —
  * designed so the same plans scale to a real cluster where AQE coalesces
  * and skew-splits post-shuffle partitions at runtime).
  */
object GraftSession {

  /** Silence the benign-but-alarming log sources. Reading an NDJSON
    * glob (`lake/part-*` — the reference's own scan pattern, SURVEY S1)
    * makes FileStreamSink.hasMetadata stat the LITERAL glob path and log
    * the resulting FileNotFoundException with a full ~60-line stack trace
    * at WARN, once per envelope read, in every Verify/Bench artifact log.
    * Level changes are scoped to these loggers; everything else keeps the
    * session's level.
    */
  def quietKnownNoise(): Unit = {
    import org.apache.logging.log4j.Level.ERROR
    import org.apache.logging.log4j.core.config.Configurator.setLevel
    setLevel("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", ERROR)
    // "No Partition Defined for Window operation!": a global window is the
    // documented plan of several catalog queries (ordered ranks over small
    // aggregates), and the WARN repeats on every execution
    setLevel("org.apache.spark.sql.execution.window.WindowExec", ERROR)
    // "spark.sql.adaptive.enabled is not supported in streaming …" at every
    // stream start; the logger's only other WARN is the temporary-checkpoint
    // notice, and BoundedStream always names a checkpoint
    setLevel("org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream", ERROR)
    // "Disabling AQE …" at every stateful stream start: drop that one line
    // and keep the logger's other WARNs at their level
    denyMessage("org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "Disabling AQE since AQE is not supported in stateful workloads\\.")
  }

  /** Drop the events of logger `name` whose message matches `regex`
    * (same as a `RegexFilter` with `onMatch = DENY` in a log4j2 config).
    * The logger keeps inheriting its level from its parent. A logger that
    * already has a filter (a repeat call, or one from a config file) is
    * left as it is.
    */
  private def denyMessage(name: String, regex: String): Unit = {
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = LoggerContext.getContext(false)
    val cfg = ctx.getConfiguration
    val own = Option(cfg.getLoggers.get(name)).getOrElse {
      val lc = new LoggerConfig(name, null, true)
      cfg.addLogger(name, lc)
      lc
    }
    if (!own.hasFilter) {
      own.addFilter(RegexFilter.createFilter(regex, Array.empty, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
      ctx.updateLoggers()
    }
  }

  /** Route the `file` scheme through [[NoForkLocalFileSystem]] and, for
    * the `FileContext` that streaming checkpoints write through,
    * [[NoForkLocalFs]]. Static: applied by [[builder]], which every
    * session in the repo (tests included) is built from.
    */
  private val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName)

  /** The state-store provider every `transformWithState` query needs
    * (column families are RocksDB-only). Scoped per query through
    * [[withConf]]: session-wide, it would also move every other stateful
    * catalog query off the default store.
    */
  val RocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the runtime confs `kv` set, then restore each key's
    * prior value (or unset it if it had none), also when `body` throws.
    */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Build a local session with scale-appropriate defaults; the mains'
    * cores are `SPARK_GRAFT_CPUS`, else every core of the box.
    */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)): SparkSession = {
    val session = builder(cores).getOrCreate()
    // AFTER getOrCreate: Spark's log4j2 re-initialization during session
    // creation replaces any configuration set beforehand (verified — a
    // pre-create setLevel reads back as INFO afterwards)
    quietKnownNoise()
    session
  }

  /** Every setting of a [[local]] session, before `getOrCreate`. The test
    * session starts from this too, so tests run with Bench's settings.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      // default: one shuffle partition per core (right for the sf0.1
      // bench lake). SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for
      // adjudication sweeps on the 100× lakes, where 16 partitions over
      // ~14 GB force external sort/agg spill that a real cluster (whose
      // partition count scales with the data) never sees — the
      // copurchase_pairs time-trend adjudication of VERDICT r14 task #1
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; a 208-query
      // catalog holds several codegen units per query, so the default
      // thrashes and every re-execution pays a Janino recompile (~0.3-2 s
      // of pure fixed cost — the r7 driver bench's flat-time signature on
      // embedding_dim_stats). Static conf: must be set before the first
      // session in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // zstd over the default lz4 for shuffle/spill blocks: the
      // verification-bound dedup queries move GB-scale narrow-long
      // streams, where zstd's ~1.4x better ratio is a direct cut in
      // shuffle I/O for a few % CPU (A/B in PERF_NOTES r12)
      .config("spark.io.compression.codec", "zstd")
      // saveAsTable targets (bucketed-join tables): keep the warehouse in
      // the scratch root, not the process cwd (the in-memory catalog means
      // metadata is per-session; data dirs persist, overwritten on re-create)
      .config("spark.sql.warehouse.dir", AtomicPublish.scratch("graft_warehouse"))
      // RocksDB state commits write a changelog of the trigger's puts and
      // deletes and snapshot only every few commits, instead of flushing,
      // checkpointing and copying SST files on every commit of every
      // state partition. Inert for the HDFS-backed store and batch jobs.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config(LocalFsConf)
}
