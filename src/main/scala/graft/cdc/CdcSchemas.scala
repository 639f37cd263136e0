package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.sql.types._

/** Schemas for the Debezium-style CDC envelope and the reference's two
  * source relations.
  *
  * Reference: the envelope fields consumed by the analytics job are
  * `payload.before`, `payload.after`, `payload.op`, `payload.source.lsn`,
  * `payload.ts_ms` (/root/reference/duckdb/analytics/transform_scd2.py:22-39);
  * rows are `commerce.products(id, name, description, price)` and
  * `commerce.users(id, username, password)`
  * (/root/reference/initdb/01_init_schema.sql:8-20). `REPLICA IDENTITY FULL`
  * (01_init_schema.sql:23-24) guarantees full `before` images, and
  * `decimal.handling.mode=double` (connectors/postgres-source.json:21)
  * flattens numerics to IEEE double — hence DoubleType for `price`
  * (SURVEY.md §1.1).
  */
object CdcSchemas {

  /** `commerce.products` row image. */
  val productsRow: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("price", DoubleType)))

  /** `commerce.users` row image. */
  val usersRow: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("username", StringType),
    StructField("password", StringType)))

  /** Debezium envelope around an arbitrary row schema.
    *
    * `op` ∈ c,u,d,r (create/update/delete/snapshot-read); `source.lsn` is the
    * total-order key; `ts_ms` epoch millis. Tombstones are disabled in the
    * reference (postgres-source.json:18) so every record is a full envelope.
    */
  def envelope(row: StructType): StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("before", row),
      StructField("after", row),
      StructField("op", StringType),
      StructField("ts_ms", LongType),
      StructField("source", StructType(Seq(
        StructField("lsn", LongType)))))))))

  /** One synthetic envelope as an NDJSON line: the [[envelope]] layout
    * filled from columns (`before`/`after` row images, `op`, `ts_ms`,
    * `source.lsn`), the one builder behind every generated lake.
    */
  def envelopeJson(before: Column, after: Column, op: Column, tsMs: Column,
                   lsn: Column): Column =
    to_json(struct(struct(before.as("before"), after.as("after"), op.as("op"),
      tsMs.as("ts_ms"), struct(lsn.as("lsn")).as("source")).as("payload")))

  val productsEnvelope: StructType = envelope(productsRow)
  val usersEnvelope: StructType = envelope(usersRow)
}
