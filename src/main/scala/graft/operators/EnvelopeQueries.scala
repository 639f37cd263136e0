package graft.operators

import graft.QueryDef
import graft.QueryDef.t
import graft.cdc.{CdcSchemas, EnvelopeReader, Scd2}
import graft.streaming.BoundedStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The envelope-level CDC path under the driver's oracle gate.
  *
  * The driver's tables are parquet, but the reference's flagship job reads
  * Debezium NDJSON (transform_scd2.py:38). To put that exact path under the
  * hash-compare: the query derives a deterministic envelope lake from the
  * `events` table (op codes, before/after images, LSN = event_id), writes
  * it as NDJSON to a scratch dir, and runs the full
  * readEnvelopes→cdcEvents→rankedEvents→history pipeline over it; the
  * DuckDB oracle reads the same files with read_ndjson_objects + the
  * reference's own json_extract/CASE/window SQL (adapted only in the
  * timestamp constructor, which must stay timezone-free).
  */
object EnvelopeQueries {

  /** Fixed scratch path + fixed content: the oracle SQL is dumped before
    * the driver picks a scale factor, and verify/bench runs at different
    * sfs may interleave with the DuckDB compare — so the lake is fully
    * synthetic (spark.range, no dependence on sfDir) and byte-identical
    * across builds. It is an [[graft.AtomicPublish.synthetic]]
    * publication stamped with [[StreamingQueries.CacheGen]]: built in a
    * temp dir and atomically renamed into place, then reused until the
    * code that builds it changes. Concurrent readers (the DuckDB oracle, a
    * second verify/bench process) never observe a half-written glob, and
    * plan-only uses (`Diag plans`) stop re-writing the lake as a side
    * effect. The users, drift and schema-generation lakes below are
    * published the same way.
    */
  private[operators] val LakeDir = graft.AtomicPublish.scratch("graft_cdc_lake")
  private val LakeEvents = 20000L
  private val LakeKeys = LakeEvents / 5 // ~5 versions per key

  /** Deterministic Debezium envelope lake: per key, a create followed by
    * updates; every 17th event is a delete (before image only, null
    * `after` — the NULL-attr-version quirk), every 13th a snapshot read,
    * every 97th an unknown op code (kept: the reference only drops null
    * ops). Sub-second ts_ms exercises the ms-precision path.
    */
  private[graft] def buildLake(s: SparkSession): String = {
    val id = col("id") % LakeKeys
    val row = struct(
      id.cast("int").as("id"),
      concat(lit("name-"), (col("id") % 997).cast("string")).as("name"),
      concat(lit("desc-"), (col("id") % 31).cast("string")).as("description"),
      ((col("id") % 10000).cast("double") / 100.0).as("price"))
    val op = when(col("id") < LakeKeys, "c")
      .when(col("id") % 97 === 0, "x")
      .when(col("id") % 17 === 0, "d")
      .when(col("id") % 13 === 0, "r")
      .otherwise("u")
    val nullRow = lit(null).cast(CdcSchemas.productsRow)
    val env = s.range(LakeEvents).select(CdcSchemas.envelopeJson(
      when(op === "d", row).otherwise(nullRow), when(op =!= "d", row).otherwise(nullRow),
      op, lit(1733333333000L) + col("id") * 321L + col("id") % 7, col("id")).as("value"))
    publish(LakeDir)(env.coalesce(4).write.mode("overwrite").text(_))
  }

  /** Publish synthetic lake `dir` as [[LakeDir]] is published. */
  private def publish(dir: String)(build: String => Unit): String =
    graft.AtomicPublish.synthetic(dir, "", StreamingQueries.CacheGen)(build)

  /** The reference captures TWO tables (initdb/01_init_schema.sql:8-20:
    * `commerce.products` AND `commerce.users`); this is the users
    * instantiation of the same envelope lake — different row schema
    * (id/username/password, 01_init_schema.sql:16-20), its own op mix and
    * ts/lsn spacing, same Debezium envelope construction.
    */
  private[operators] val UsersLakeDir = graft.AtomicPublish.scratch("graft_cdc_users_lake")
  private val UsersEvents = 12000L
  private val UsersKeys = UsersEvents / 4

  private[operators] def buildUsersLake(s: SparkSession): String = {
    val id = col("id") % UsersKeys
    val row = struct(
      id.cast("int").as("id"),
      concat(lit("user-"), (col("id") % 887).cast("string")).as("username"),
      md5((col("id") % 119).cast("string")).as("password"))
    val op = when(col("id") < UsersKeys, "c")
      .when(col("id") % 89 === 0, "x")
      .when(col("id") % 19 === 0, "d")
      .when(col("id") % 11 === 0, "r")
      .otherwise("u")
    val nullRow = lit(null).cast(CdcSchemas.usersRow)
    val env = s.range(UsersEvents).select(CdcSchemas.envelopeJson(
      when(op === "d", row).otherwise(nullRow), when(op =!= "d", row).otherwise(nullRow),
      op, lit(1733444444000L) + col("id") * 137L + col("id") % 5, col("id")).as("value"))
    publish(UsersLakeDir)(env.coalesce(4).write.mode("overwrite").text(_))
  }

  /** Drifted ENVELOPE lake (VERDICT r16 task #5): the reference's own
    * schema-drift quirk (generator `NUMERIC` vs initdb `REAL` vs artifact
    * `DECIMAL(10,2)` — SURVEY §1.1) plus `"include.schema.changes":
    * "false"` means an ALTERed source table shows up ONLY as new keys
    * inside the envelope JSON, mid-stream, with no schema event. This
    * lake stages exactly that: gen1 envelopes are plain products rows;
    * gen2 envelopes (strictly higher lsn/ts, same key space) gain a
    * `category` attribute inside before/after. A consumer that declares
    * the WIDE schema reads gen1's missing key as NULL silently — the
    * behavior `streaming_scd2_schema_drift` pins against the batch
    * rebuild over the unioned lake.
    */
  private[operators] val DriftLakeDir = graft.AtomicPublish.scratch("graft_cdc_drift_lake")
  private val DriftEvents = 6000L // per generation
  private val DriftKeys = DriftEvents / 5

  /** The products row WIDENED by the drifted column — what a reader that
    * has seen the new generation declares for the whole lake.
    */
  private[operators] val productsRowV2: org.apache.spark.sql.types.StructType =
    CdcSchemas.productsRow.add("category", org.apache.spark.sql.types.StringType)

  private[operators] def buildDriftLake(s: SparkSession): String =
    publish(DriftLakeDir) { tmp =>
      def gen(offset: Long, withCategory: Boolean, out: String): Unit = {
        val id = col("id") % DriftKeys
        val base = Seq(
          id.cast("int").as("id"),
          concat(lit("name-"), (col("id") % 997).cast("string")).as("name"),
          concat(lit("desc-"), (col("id") % 31).cast("string")).as("description"),
          ((col("id") % 10000).cast("double") / 100.0).as("price"))
        // gen1's JSON simply LACKS the category key (schema-less NDJSON —
        // the wire truth of a pre-ALTER envelope), it is not a null field
        val row = struct(base ++ (if (withCategory)
          Seq(concat(lit("cat-"), (col("id") % 7).cast("string")).as("category"))
          else Nil): _*)
        val op = when(lit(offset == 0L) && col("id") < DriftKeys, "c")
          .when(col("id") % 17 === 0, "d")
          .when(col("id") % 13 === 0, "r")
          .otherwise("u")
        val nullRow = lit(null).cast(
          if (withCategory) productsRowV2 else CdcSchemas.productsRow)
        s.range(DriftEvents).select(CdcSchemas.envelopeJson(
          when(op === "d", row).otherwise(nullRow), when(op =!= "d", row).otherwise(nullRow),
          op, lit(1733555555000L) + (col("id") + offset) * 211L, col("id") + offset).as("value"))
          .coalesce(2).write.text(out)
      }
      gen(0L, withCategory = false, s"$tmp/gen1")
      gen(DriftEvents, withCategory = true, s"$tmp/gen2")
    }

  /** Two deterministic parquet "generations" with drifted schemas (gen2
    * adds `category`); fully synthetic, the same rows in the same files on
    * every build (a few parquet footer bytes differ between JVMs),
    * published like the envelope lakes above.
    */
  private[operators] val SchemaGensDir = graft.AtomicPublish.scratch("graft_schema_gens")

  private def buildSchemaGens(s: SparkSession): String =
    publish(SchemaGensDir) { tmp =>
      def base(df: DataFrame) = df.select(col("id"),
        concat(lit("item-"), (col("id") % 997).cast("string")).as("name"),
        ((col("id") % 400).cast("double") / 4.0).as("price"))
      base(s.range(5000).toDF()).coalesce(2).write.parquet(s"$tmp/gen1")
      base(s.range(5000, 10000).toDF())
        .withColumn("category", concat(lit("cat-"), (col("id") % 7).cast("string")))
        .coalesce(2).write.parquet(s"$tmp/gen2")
    }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "cdc_envelope_scd2",
      (s, d) => {
        val dir = buildLake(s)
        val env = EnvelopeReader.readEnvelopes(s, dir + "/part-*", CdcSchemas.productsRow)
        Scd2.transform(env, Seq("name", "description", "price"))
          .select(col("id"), col("name"), col("description"), col("price"),
            col("row_valid_start_timestamp").cast("timestamp_ntz").as("row_valid_start_timestamp"),
            col("row_valid_expiration_timestamp").cast("timestamp_ntz").as("row_valid_expiration_timestamp"))
      },
      Some(scd2HistoryOracleSql)),

    // The users-table instantiation of the identical SCD2 pipeline: same
    // operators, different row schema and attr list — pins that
    // Scd2.transform is genuinely table-parameterized (SURVEY §7.2 step 3
    // "both products and users instantiations"), not specialized to the
    // products shape.
    QueryDef(
      "cdc_users_scd2",
      (s, d) => {
        val dir = buildUsersLake(s)
        val env = EnvelopeReader.readEnvelopes(s, dir + "/part-*", CdcSchemas.usersRow)
        Scd2.transform(env, Seq("username", "password"))
          .select(col("id"), col("username"), col("password"),
            col("row_valid_start_timestamp").cast("timestamp_ntz").as("row_valid_start_timestamp"),
            col("row_valid_expiration_timestamp").cast("timestamp_ntz").as("row_valid_expiration_timestamp"))
      },
      Some(usersScd2OracleSql)),

    // Schema-INFERENCE scan (SURVEY §2 S2; reference init_duckdb.sh:23-25
    // reads the raw lake with read_json_auto, no declared schema): parse
    // the envelope NDJSON via spark.read.json with the schema inferred
    // from the data — a separate code path from readEnvelopes' explicit
    // CdcSchemas contract (inference samples the files, unions observed
    // types, and must land on the same long/string/double shapes DuckDB's
    // read_json_auto derives). Row-level projection, no aggregation, so
    // the hash pins every inferred value, nulls included. At 100 TB the
    // inference pass is a bounded sample (samplingRatio), not a second
    // full scan; here the lake is 20k rows so full-sample is fine.
    QueryDef(
      "cdc_json_inference_scan",
      (s, d) => {
        val dir = buildLake(s)
        val env = s.read.json(dir + "/part-*") // no schema: inferred
        env.select(
          coalesce(col("payload.after.id"), col("payload.before.id")).as("id"),
          col("payload.op").as("op"),
          col("payload.ts_ms").as("ts_ms"),
          col("payload.source.lsn").as("lsn"),
          coalesce(col("payload.after.name"), col("payload.before.name")).as("name"),
          coalesce(col("payload.after.price"), col("payload.before.price")).as("price"))
      },
      Some(s"""SELECT
             |  coalesce(payload.after.id, payload.before.id) AS id,
             |  payload.op AS op, payload.ts_ms AS ts_ms,
             |  payload.source.lsn AS lsn,
             |  coalesce(payload.after.name, payload.before.name) AS name,
             |  coalesce(payload.after.price, payload.before.price) AS price
             |FROM read_json_auto('$LakeDir/part-*',
             |  sample_size=-1, field_appearance_threshold=0)""".stripMargin)),

    // Schema evolution across lake generations: an older parquet
    // generation lacks a column a newer one added (the drift every
    // long-lived lake accumulates — the reference's ALTER-prone Postgres
    // schema lands in S3 as exactly this). Spark reads both generations
    // in one scan with mergeSchema=true — footer-level schema union, old
    // rows surface NULL for the added column, no rewrite of old files;
    // DuckDB replays it with union_by_name. Row-level output so the hash
    // pins every filled NULL. At 100 TB, mergeSchema's footer sampling is
    // itself a job — a production lake declares the evolved schema in a
    // catalog/table format instead; the READ semantics (by-name union,
    // null-fill) are what this query pins, and they are identical either
    // way.
    QueryDef(
      "schema_evolution_scan",
      (s, d) => {
        val dir = buildSchemaGens(s)
        s.read.option("mergeSchema", "true")
          .parquet(s"$dir/gen1", s"$dir/gen2")
          .select(col("id"), col("name"), col("price"), col("category"))
      },
      Some(s"""SELECT id, name, price, category
             |FROM read_parquet(
             |  ['$SchemaGensDir/gen1/*.parquet', '$SchemaGensDir/gen2/*.parquet'],
             |  union_by_name=true)""".stripMargin)),

    // STREAMING schema-drift monitor — the continuous twin of
    // schema_evolution_scan: the drifted generations arrive as NDJSON
    // micro-batches (schema-less text, the shape a CDC topic actually
    // has), each batch is schema-INFERRED in isolation inside
    // foreachBatch (bounded by the batch, never a full-lake inference
    // scan — the S2 discipline), and the maintained column ledger
    // records each column's first-seen batch and non-null volume. The
    // converged ledger must say exactly "category appeared at batch 1
    // with half the rows" — an engine that unions schemas eagerly
    // (full-lake inference) or drops late columns hash-fails. The
    // per-batch collect is ≤ |columns| cells — the driver-visible size
    // of a schema, not of data.
    QueryDef(
      "streaming_schema_drift_monitor",
      (s, d) => StreamingQueries.cachedRun(s, "streaming_schema_drift_monitor", d) {
        (scratch, resultOut) =>
          val gens = buildSchemaGens(s)
          val stage = s"$scratch/jsonlake"
          Seq("gen1", "gen2").zipWithIndex.foreach { case (g, i) =>
            BoundedStream.writeSlice(s.read.parquet(s"$gens/$g")
              .select(to_json(struct(col("*"))).as("value")), s"$stage/b$i", i, "text")
          }
          val out = s"$scratch/emissions"
          val lines = s.readStream.option("maxFilesPerTrigger", 1).text(s"$stage/b*/part-*")
          BoundedStream.start(lines, s"$scratch/ckpt") { (b, batchId) =>
            val session = b.sparkSession
            import session.implicits._
            val parsed = session.read.json(b.as[String])
            val cols = parsed.schema.fieldNames.sorted.toSeq
            val stats = parsed
              .select(cols.map(c => count(col(c)).as(c)): _*).collect().head
            cols.zipWithIndex
              .map { case (c, i) => (batchId, c, stats.getLong(i)) }
              .toDF("batch_id", "column_name", "n_nonnull")
              .write.mode("append").parquet(out)
          }.awaitTermination()
          s.read.parquet(out)
            .groupBy("column_name")
            .agg(min("batch_id").as("first_seen_batch"),
              sum("n_nonnull").as("n_nonnull"))
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some(s"""WITH g AS (
              |  SELECT * FROM read_parquet(
              |    ['$SchemaGensDir/gen1/*.parquet', '$SchemaGensDir/gen2/*.parquet'],
              |    union_by_name=true))
              |SELECT 'category' AS column_name, CAST(1 AS BIGINT) AS first_seen_batch,
              |  CAST(count(category) AS BIGINT) AS n_nonnull FROM g
              |UNION ALL SELECT 'id', 0, count(id) FROM g
              |UNION ALL SELECT 'name', 0, count(name) FROM g
              |UNION ALL SELECT 'price', 0, count(price) FROM g""".stripMargin),
      bench = false, sideEffecting = true),

    // Small-file compaction round-trip (SURVEY §7.4: the reference's S3
    // sink flushes every 3 records, so the lake is thousands of tiny
    // objects): compact the envelope lake to ~1 MiB gzip NDJSON files,
    // re-parse the COMPACTED files, and hash-compare the full event
    // content against the oracle's read of the ORIGINAL lake — compaction
    // must be byte-faithful to every envelope field, not just row counts.
    QueryDef(
      "compact_lake_roundtrip",
      (s, d) => StreamingQueries.cachedRun(s, "compact_lake_roundtrip", d) {
        (scratch, resultOut) =>
          val lake = buildLake(s)
          val compacted = s"$scratch/compacted"
          val (nBefore, nAfter) = Compaction.compact(
            s, lake, compacted, format = "json", targetFileBytes = 1L << 20)
          require(nAfter <= nBefore,
            s"compaction must not increase file count ($nBefore -> $nAfter)")
          val env = EnvelopeReader.readEnvelopes(s, compacted + "/part-*", CdcSchemas.productsRow)
          env.select(
              coalesce(col("payload.after.id"), col("payload.before.id"))
                .cast("int").as("id"),
              col("payload.source.lsn").cast("long").as("log_seq_num"),
              col("payload.op").as("op"),
              col("payload.ts_ms").cast("long").as("ts_ms"),
              col("payload.after.name").as("name"),
              col("payload.after.price").as("price"))
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some(s"""SELECT
              |  COALESCE(
              |    CAST(json_extract(json, '$$.payload.after.id') AS INT),
              |    CAST(json_extract(json, '$$.payload.before.id') AS INT)) AS id,
              |  CAST(json_extract(json, '$$.payload.source.lsn') AS BIGINT) AS log_seq_num,
              |  json_extract_string(json, '$$.payload.op') AS op,
              |  CAST(json_extract(json, '$$.payload.ts_ms') AS BIGINT) AS ts_ms,
              |  json_extract_string(json, '$$.payload.after.name') AS name,
              |  CAST(json_extract(json, '$$.payload.after.price') AS DOUBLE) AS price
              |FROM read_ndjson_objects('$LakeDir/part-*')""".stripMargin),
      bench = false, sideEffecting = true),

    // CSV source/sink round-trip (the remaining text lake format next to
    // NDJSON — S7's family): write `documents` as gzip CSV with full
    // quoting + backslash escaping, read it back through an EXPLICIT
    // schema (no inference scan — the 100 TB discipline for text
    // formats), and hash-compare the round-tripped rows against the
    // oracle's read of the original parquet. Quote/escape/null fidelity
    // is what's under test: any mangled row hash-fails.
    QueryDef(
      "csv_lake_roundtrip",
      (s, d) => StreamingQueries.cachedRun(s, "csv_lake_roundtrip", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/csv_lake"
          t(s, d, "documents")
            .write.mode("overwrite")
            .option("header", "true").option("quoteAll", "true")
            .option("escape", "\"").option("compression", "gzip")
            .csv(lake)
          s.read
            .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
            .option("header", "true").option("escape", "\"")
            .csv(lake + "/part-*")
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents"),
      bench = false, sideEffecting = true),

    // Malformed-row tolerance of the CSV source (PERMISSIVE mode): a lake
    // file carrying rows that cannot parse against the schema (type
    // garbage in typed columns) must quarantine those rows into the
    // corrupt-record column WITHOUT poisoning the good rows. The audit
    // proves both sides: the good-row count and an exact integer checksum
    // over a typed column (any silently nulled or mangled good row moves
    // it), plus the exact count of quarantined rows (a dropped-or-parsed
    // bad row moves that). This is the ingest contract at 100 TB — real
    // crawls always carry a malformed tail, and DROPMALFORMED-style
    // silent loss is the failure mode this guards against.
    QueryDef(
      "csv_corrupt_records_audit",
      (s, d) => StreamingQueries.cachedRun(s, "csv_corrupt_records_audit", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/csv_lake"
          t(s, d, "documents")
            .write.mode("overwrite")
            .option("header", "true").option("quoteAll", "true")
            .option("escape", "\"")
            .csv(lake)
          // inject a file with 7 unparseable rows (header line first —
          // the reader skips the first line of every file under
          // header=true)
          val badLines = "doc_id,text,lang,source,n_chars" +:
            (1 to 7).map(i => s"not_a_long_$i,broken row $i,xx,srcX,also_not_a_long")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(lake, "part-bad.csv"),
            badLines.mkString("\n").getBytes("UTF-8"))
          val parsed = s.read
            .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
              "n_chars LONG, _corrupt_record STRING")
            .option("header", "true").option("escape", "\"")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(lake + "/part-*")
          parsed
            .agg(
              sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
              sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
              sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars"))
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_good,
             |  CAST(7 AS BIGINT) AS n_corrupt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents""".stripMargin),
      bench = false, sideEffecting = true),

    // Right-to-be-forgotten rewrite: delete every row for an erasure list
    // of user_ids from an immutable lake by anti-filtered rewrite, then
    // audit the REWRITTEN files — n_residual must be 0 from the new lake
    // itself (not from the plan that wrote it), and the surviving-row
    // checksum proves no unrelated row was dropped or duplicated by the
    // rewrite. The mutable-UPDATE sibling is merge_into_upsert; this is
    // the deletion leg every compliance pipeline needs. At scale the
    // rewrite touches only files whose min/max user_id stats overlap the
    // list — the audit shape is identical.
    QueryDef(
      "gdpr_delete_rewrite",
      (s, d) => StreamingQueries.cachedRun(s, "gdpr_delete_rewrite", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/ev_lake"
          t(s, d, "events").select(col("event_id"), col("user_id"))
            .write.mode("overwrite").parquet(lake)
          val forgotten = Seq(3L, 7L, 11L, 19L)
          val before = s.read.parquet(lake)
          val nBefore = before.count()
          val rewritten = s"$scratch/ev_lake_v2"
          before.filter(!col("user_id").isin(forgotten: _*))
            .write.mode("overwrite").parquet(rewritten)
          s.read.parquet(rewritten)
            .agg(count(lit(1)).as("n_after"),
              sum(when(col("user_id").isin(forgotten: _*), 1L).otherwise(0L))
                .as("n_residual"),
              sum(col("event_id")).as("id_checksum"))
            .select(lit(nBefore).as("n_before"), col("n_after"),
              col("n_residual"), col("id_checksum"))
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_before,
             |  CAST(sum(CASE WHEN user_id NOT IN (3, 7, 11, 19)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
             |  CAST(0 AS BIGINT) AS n_residual,
             |  CAST(sum(CASE WHEN user_id NOT IN (3, 7, 11, 19)
             |    THEN event_id ELSE 0 END) AS BIGINT) AS id_checksum
             |FROM events""".stripMargin),
      bench = false, sideEffecting = true),

    // ORC round-trip — the second columnar format (Spark ships the ORC
    // reader/writer alongside parquet; lakes migrating between the two is
    // routine). Type fidelity across the encode/decode is what's checked:
    // longs, strings, and the timestamp-carrying events table would all
    // hash-fail on a lossy mapping. snappy + explicit no-inference read.
    QueryDef(
      "orc_lake_roundtrip",
      (s, d) => StreamingQueries.cachedRun(s, "orc_lake_roundtrip", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/orc_lake"
          t(s, d, "events")
            .select(col("event_id"), col("user_id"),
              col("ts").cast("timestamp_ntz").as("ts"),
              col("event_type"), col("value"))
            .write.mode("overwrite").option("compression", "snappy").orc(lake)
          s.read
            .schema("event_id LONG, user_id LONG, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE")
            .orc(lake + "/part-*")
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("SELECT event_id, user_id, ts, event_type, value FROM events"),
      bench = false, sideEffecting = true),

    // XML lake round trip over Spark 4's NATIVE xml source (new in 4.0 —
    // no external spark-xml module): events → row-tagged XML → explicit
    // no-inference read → parquet, hash-compared against the original
    // table. The lossy spots XML can hide are pinned exactly: doubles
    // serialize via shortest-roundtrip toString (re-parse is
    // bit-identical), and the timestamp format is forced to
    // microsecond precision on BOTH legs — the default millis pattern
    // would silently truncate the micro component and hash-fail.
    QueryDef(
      "xml_lake_roundtrip",
      (s, d) => StreamingQueries.cachedRun(s, "xml_lake_roundtrip", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/xml_lake"
          val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
          t(s, d, "events")
            .select(col("event_id"), col("user_id"),
              col("ts").cast("timestamp_ntz").as("ts"),
              col("event_type"), col("value"))
            .write.mode("overwrite")
            .option("rowTag", "event").option("rootTag", "events")
            .option("timestampNTZFormat", tsFmt)
            .format("xml").save(lake)
          s.read
            .schema("event_id LONG, user_id LONG, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE")
            .option("rowTag", "event")
            .option("timestampNTZFormat", tsFmt)
            .format("xml").load(lake + "/part-*")
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("SELECT event_id, user_id, ts, event_type, value FROM events"),
      bench = false, sideEffecting = true),

    // Hive-partitioned lake + partition-pruned read: events written
    // partitioned BY event_type, then read with a partition-column
    // predicate — the listing-level prune (only the matching
    // subdirectories are even enumerated) that turns a 100 TB lake scan
    // into a one-partition scan. The pruning itself is plan-pinned in
    // PlanSpec (PartitionFilters non-empty, one selected partition);
    // this row pins the round trip's VALUES: partition columns leave the
    // data files entirely (they live in the directory name) and must be
    // restored losslessly on read, including rows where the partition
    // value interacts with the row payload.
    QueryDef(
      "partition_pruned_scan",
      (s, d) => StreamingQueries.cachedRun(s, "partition_pruned_scan", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/ev_by_type"
          t(s, d, "events")
            .select(col("event_id"), col("user_id"),
              col("ts").cast("timestamp_ntz").as("ts"),
              col("value"), col("event_type"))
            .write.mode("overwrite").partitionBy("event_type").parquet(lake)
          s.read.parquet(lake)
            .filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "event_type", "value")
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("""SELECT event_id, user_id, ts, event_type, value
             |FROM events WHERE event_type = 'purchase'""".stripMargin),
      bench = false, sideEffecting = true),

    // Lake file-layout audit — the small-files/skew diagnostic a
    // compaction planner reads: the events lake is written one file per
    // event_type partition (repartition by the partition column before
    // the partitioned write — the canonical no-small-files recipe), then
    // the audit reconstructs per-partition row counts purely from FILE
    // introspection (input_file_name() parsed for the partition value,
    // one distinct file pinned per partition) and must agree with the
    // table's own group-by — proving the directory layout, the file
    // census, and the data tell one story. At 100 TB this audit is a
    // listing-plus-footer pass, never a data scan.
    QueryDef(
      "lake_file_skew_audit",
      (s, d) => StreamingQueries.cachedRun(s, "lake_file_skew_audit", d) {
        (scratch, resultOut) =>
          val lake = s"$scratch/ev_files_by_type"
          t(s, d, "events")
            .select(col("event_id"), col("value"), col("event_type"))
            .repartition(col("event_type"))
            .write.mode("overwrite").partitionBy("event_type").parquet(lake)
          s.read.parquet(lake)
            .select(regexp_extract(input_file_name(),
              "event_type=([^/]+)/", 1).as("event_type"),
              input_file_name().as("f"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(col("f")).as("n_files"))
            .orderBy("event_type")
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(1 AS BIGINT) AS n_files
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      bench = false, sideEffecting = true),

    // Dynamic partition pruning: the fact lake is partitioned by order
    // month, the month dimension (month → quarter) is filtered on a
    // DIM attribute — so the fact partitions to read are only known at
    // runtime, and Catalyst inserts a `dynamicpruning#...` subquery that
    // broadcasts the dim's surviving months to prune the fact scan before
    // it starts (the static-literal leg is partition_pruned_scan above).
    // On a 100 TB date-partitioned lake this is the difference between
    // scanning 3 months and scanning 7 years. The oracle replays the
    // dim join over the raw table; exact decimal revenue both sides.
    QueryDef(
      "dynamic_partition_prune_join",
      (s, d) => StreamingQueries.cachedRun(s, "dynamic_partition_prune_join", d) {
        (scratch, resultOut) =>
          import org.apache.spark.sql.functions.broadcast
          val lake = s"$scratch/orders_by_month"
          val orders = t(s, d, "orders")
          orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              date_format(col("o_orderdate"), "yyyy-MM").as("om"))
            .write.mode("overwrite").partitionBy("om").parquet(lake)
          val dim = orders.select(
              date_format(col("o_orderdate"), "yyyy-MM").as("om"),
              concat(year(col("o_orderdate")).cast("string"), lit("-Q"),
                quarter(col("o_orderdate")).cast("string")).as("oq"))
            .distinct()
          s.read.parquet(lake)
            .join(broadcast(dim.filter(col("oq") === "1996-Q1")), Seq("om"))
            .groupBy("om")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
                .as("revenue"))
            .orderBy("om")
            .coalesce(1).write.mode("overwrite").parquet(resultOut)
      },
      Some("""WITH fact AS (
             |  SELECT o_orderkey, o_totalprice,
             |    strftime(o_orderdate, '%Y-%m') AS om
             |  FROM orders),
             |dim AS (
             |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS om,
             |    concat(CAST(year(o_orderdate) AS VARCHAR), '-Q',
             |           CAST(quarter(o_orderdate) AS VARCHAR)) AS oq
             |  FROM orders)
             |SELECT f.om, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM fact f JOIN dim USING (om)
             |WHERE oq = '1996-Q1'
             |GROUP BY f.om ORDER BY f.om""".stripMargin),
      bench = false, sideEffecting = true))

  /** The reference SCD2 SQL instantiated for `commerce.users` — identical
    * window algebra to [[scd2HistoryOracleSql]], attr projection swapped to
    * username/password (both VARCHAR — no numeric column on this table).
    */
  private[operators] def usersScd2OracleSql: String =
    s"""WITH cdc_events AS (
       |  SELECT
       |    COALESCE(
       |      CAST(json_extract(json, '$$.payload.after.id') AS INT),
       |      CAST(json_extract(json, '$$.payload.before.id') AS INT)) AS id,
       |    json_extract(json, '$$.payload.after') AS after_row_value,
       |    CAST(json_extract(json, '$$.payload.source.lsn') AS BIGINT) AS log_seq_num,
       |    make_timestamp(CAST(json_extract(json, '$$.payload.ts_ms') AS BIGINT) * 1000) AS source_timestamp
       |  FROM read_ndjson_objects('$UsersLakeDir/part-*')
       |  WHERE json_extract(json, '$$.payload.op') IS NOT NULL),
       |ranked_events AS (
       |  SELECT id, after_row_value, log_seq_num, source_timestamp,
       |    LEAD(source_timestamp) OVER (PARTITION BY id ORDER BY log_seq_num) AS next_change_timestamp
       |  FROM cdc_events WHERE id IS NOT NULL)
       |SELECT id,
       |  CAST(json_extract_string(after_row_value, '$$.username') AS VARCHAR) AS username,
       |  CAST(json_extract_string(after_row_value, '$$.password') AS VARCHAR) AS password,
       |  source_timestamp AS row_valid_start_timestamp,
       |  COALESCE(next_change_timestamp, TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
       |FROM ranked_events""".stripMargin

  /** The reference SCD2 query (transform_scd2.py:19-61) verbatim in
    * structure; only the source glob and the epoch→timestamp
    * constructor differ (make_timestamp is timezone-free where
    * DuckDB's to_timestamp would yield TIMESTAMPTZ in the driver's
    * unknown session zone). Note the '"c"' quoted-scalar matching —
    * DuckDB's json_extract returns quoted JSON scalars (SURVEY P14).
    * Shared with the streaming-equivalence queries
    * ([[StreamingQueries]]): streaming output ≡ this batch rebuild is
    * exactly the §2.8 contract, so both go through one oracle text.
    */
  private[operators] def scd2HistoryOracleSql: String = {
    val glob = LakeDir
    s"""WITH cdc_events AS (
           |  SELECT
           |    COALESCE(
           |      CAST(json_extract(json, '$$.payload.after.id') AS INT),
           |      CAST(json_extract(json, '$$.payload.before.id') AS INT)) AS id,
           |    json_extract(json, '$$.payload.before') AS before_row_value,
           |    json_extract(json, '$$.payload.after') AS after_row_value,
           |    CASE json_extract(json, '$$.payload.op')
           |      WHEN '"c"' THEN 'CREATE'
           |      WHEN '"u"' THEN 'UPDATE'
           |      WHEN '"d"' THEN 'DELETE'
           |      WHEN '"r"' THEN 'SNAPSHOT'
           |      ELSE 'INVALID' END AS operation_type,
           |    CAST(json_extract(json, '$$.payload.source.lsn') AS BIGINT) AS log_seq_num,
           |    make_timestamp(CAST(json_extract(json, '$$.payload.ts_ms') AS BIGINT) * 1000) AS source_timestamp
           |  FROM read_ndjson_objects('$glob/part-*')
           |  WHERE json_extract(json, '$$.payload.op') IS NOT NULL),
           |ranked_events AS (
           |  SELECT id, after_row_value, log_seq_num, source_timestamp,
           |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_seq_num) AS row_num,
           |    LEAD(source_timestamp) OVER (PARTITION BY id ORDER BY log_seq_num) AS next_change_timestamp
           |  FROM cdc_events WHERE id IS NOT NULL)
           |SELECT id,
           |  CAST(json_extract_string(after_row_value, '$$.name') AS VARCHAR) AS name,
           |  CAST(json_extract_string(after_row_value, '$$.description') AS VARCHAR) AS description,
           |  CAST(json_extract(after_row_value, '$$.price') AS DOUBLE) AS price,
           |  source_timestamp AS row_valid_start_timestamp,
           |  COALESCE(next_change_timestamp, TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
           |FROM ranked_events""".stripMargin
  }
}
