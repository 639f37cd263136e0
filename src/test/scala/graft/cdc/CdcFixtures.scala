package graft.cdc

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** Synthetic Debezium-envelope fixture builder (FIXTURES.md §1): JSON lines
  * matching the reference's S3-sink layout — Hive `year=/month=/day=` dirs,
  * ≤3 records per file (`flush.size=3`, connectors/s3-sink.json:24),
  * optionally gzipped. The scenario coverage lives in the specs; this file
  * only knows how to serialize envelopes.
  */
object CdcFixtures {

  /** One products-row image as a JSON object (or JSON null). */
  def productRow(id: Option[Int], name: String = null, description: String = null,
                 price: java.lang.Double = null): String =
    id match {
      case None => "null"
      case Some(i) =>
        val n = Option(name).map(s => "\"" + s + "\"").getOrElse("null")
        val d = Option(description).map(s => "\"" + s + "\"").getOrElse("null")
        val p = Option(price).map(_.toString).getOrElse("null")
        s"""{"id": $i, "name": $n, "description": $d, "price": $p}"""
    }

  def userRow(id: Option[Int], username: String = null, password: String = null): String =
    id match {
      case None => "null"
      case Some(i) =>
        val u = Option(username).map(s => "\"" + s + "\"").getOrElse("null")
        val p = Option(password).map(s => "\"" + s + "\"").getOrElse("null")
        s"""{"id": $i, "username": $u, "password": $p}"""
    }

  /** A full envelope line. Pass `op = null` to produce the
    * missing-op malformed line (must be filtered — transform_scd2.py:39).
    */
  def envelope(before: String, after: String, op: String, tsMs: Long, lsn: Long): String = {
    val opJson = Option(op).map(o => "\"" + o + "\"").getOrElse("null")
    s"""{"payload": {"before": $before, "after": $after, "op": $opJson, "ts_ms": $tsMs, "source": {"lsn": $lsn}}}"""
  }

  /** Write lines into `dir/year=y/month=m/day=d/part-NNNN.json[.gz]`,
    * `flushSize` lines per file (small-files realism).
    */
  def writeLake(dir: File, lines: Seq[String], year: Int = 2025, month: Int = 8,
                day: Int = 12, flushSize: Int = 3, gzip: Boolean = false): Unit = {
    val part = new File(dir, f"year=$year/month=$month%02d/day=$day%02d")
    part.mkdirs()
    lines.grouped(flushSize).zipWithIndex.foreach { case (chunk, i) =>
      val ext = if (gzip) ".json.gz" else ".json"
      val f = new File(part, f"part-$i%04d$ext")
      val os = new FileOutputStream(f)
      val w = new BufferedWriter(new OutputStreamWriter(
        if (gzip) new GZIPOutputStream(os) else os, StandardCharsets.UTF_8))
      chunk.foreach { l => w.write(l); w.newLine() }
      w.close()
    }
  }

  def tempDir(prefix: String): File = new File(graft.SparkSuite.scratchDir(prefix))
}
