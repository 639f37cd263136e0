package graft

import scala.collection.immutable.VectorMap

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's one JSON writer: every record the mains print or write
  * (Bench, Verify, SkewStress, StreamingThroughput, Diag) goes through
  * [[write]], with the Jackson that Spark ships. A record is built from
  * [[obj]] maps, `Seq`s, strings and numbers; Jackson does all escaping.
  *
  * Key order is part of each record's contract: the driver keeps only the
  * tail of a long line, and `tools/bench_compare.py` recovers a truncated
  * tail by key position. [[obj]] keeps insertion order and the output is
  * compact (no spaces), so a record prints exactly as it is built.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  /** Compact JSON text of `v`. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON object whose keys print in the order given. */
  def obj(fields: (String, Any)*): VectorMap[String, Any] = VectorMap(fields: _*)

  /** `v` rounded half-up to `digits` decimals, for a field whose precision
    * is part of the record (`round(1.25, 1)` prints `1.3`). NaN and the
    * infinities pass through; Jackson writes them as strings.
    */
  def round(v: Double, digits: Int): Any =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v).setScale(digits, java.math.RoundingMode.HALF_UP)
}
