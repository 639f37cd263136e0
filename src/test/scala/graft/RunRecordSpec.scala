package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.StreamingThroughput.{BatchStat, LegResult}

/** The harness records written through [[Json]]: key order, escaping, and
  * the values the tools downstream read back.
  */
class RunRecordSpec extends AnyFunSuite {

  /** A lake path that breaks any JSON built by string interpolation. */
  private val oddPath = "/tmp/lake \"quoted\" C:\\sf0.1\tx"

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  private def run(name: String, seconds: Double, mb: Double = 0.0,
                  error: Option[String] = None): RunMeter.Run[Any] =
    RunMeter.Run(name, seconds, error.toLeft(()), (mb * 1e6).toLong, Map.empty, Nil)

  private val leg = LegResult("scd2_incremental", 400, 4.0, 10,
    (0 until 4).map(i => BatchStat(i, 100, 1000, 10, 640)))
  private val recovery = StreamingThroughput.RecoveryResult(2, 1, 3, 1.234, 2000, 2000, 200, 200)

  private def benchRecord(withSections: Boolean, sf: String = oddPath, q1S: Double = 1.5) =
    Bench.record(sf,
      Seq(run("q1_pricing_summary", q1S, mb = 2.04), run("broken", -1.0, error = Some("X: y"))), 12.34,
      Option.when(withSections)(Bench.Section(Map(
        "big" -> ScaleSmoke.SmokeMeasure(1.5, 45.0, 12.34, Seq("hit")),
        "small" -> ScaleSmoke.SmokeMeasure(0.2, 1.0, 0.5, Nil)), 3.0, 20.0)),
      Option.when(withSections)(Bench.Section(Seq(
        "probe" -> SkewStress.SkewMeasure(0.5, -1.0, 100, 50, 8)), 2.0, 10.0)),
      Option.when(withSections)(Bench.Section(
        RunMeter.Run("streaming", 5.0, Right((Seq(leg), Some(recovery))), 0L, Map.empty, Nil),
        0.0, 5.0)))

  test("the Bench record keeps its key order and escapes the lake path") {
    val (rec, failed) = benchRecord(withSections = true)
    val js = parse(Json.write(rec))
    assert(keys(js) == Seq("metric", "value", "unit", "queries", "shuffle_mb", "failed",
      "errors", "sf", "scale_smoke", "scale_audit", "skew", "streaming", "box_factor",
      "wall", "worst10"))
    // tools/bench_compare.py recovers a truncated tail by this prefix
    assert(keys(js.get("box_factor")).take(2) == Seq("ref", "median"))
    assert(Json.write(rec).contains(""""box_factor":{"ref":"bench_r15a","median":"""))
    assert(keys(js.get("wall")) == Seq("headline_s", "smoke_s", "lake_build_s", "skew_s",
      "streaming_s"))
    assert(keys(js.get("scale_smoke")) == Seq("factor", "build_sec", "queries", "head_s",
      "ratio_vs_headline", "shuffle_mb", "superlinear", "floor_exempt", "failed"))
    assert(keys(js.get("skew")) == Seq("hot_permille", "build_s", "floor_relax", "base_s",
      "skew_s", "straggler_x", "hot_task_pct", "failed", "stragglers"))
    assert(js.get("sf").asText == oddPath)
    assert(js.get("queries").get("broken").asDouble == -1.0)
    assert(js.get("shuffle_mb").get("q1_pricing_summary").asDouble == 2.0)
    assert(js.get("errors").get("broken").asText == "X: y")
    assert(js.get("scale_smoke").get("superlinear").get(0).asText == "big")
    assert(js.get("scale_smoke").get("floor_exempt").get(0).asText == "small")
    assert(js.get("worst10").get(0).get("q").asText == "big")
    assert(js.get("streaming").get("scd2_recovery").get("recovery_first_commit_s").asDouble == 1.23)
    assert(failed == Seq("broken", "probe"))
  }

  test("the Bench record without its optional sections") {
    val (rec, failed) = benchRecord(withSections = false)
    assert(keys(parse(Json.write(rec))) == Seq("metric", "value", "unit", "queries",
      "shuffle_mb", "failed", "errors", "sf", "box_factor", "wall", "worst10"))
    assert(failed == Seq("broken"))
  }

  test("box_factor reads no canary on a lake other than sf0.1") {
    val js = parse(Json.write(benchRecord(withSections = true, sf = "/data/lakes/sf0.001",
      q1S = 2.922)._1))
    val bf = js.get("box_factor")
    assert(keys(bf) == Seq("ref", "median", "per_canary", "missing"))
    assert(bf.get("median").asDouble == -1.0)
    assert(keys(bf.get("per_canary")).isEmpty)
    assert(js.get("skew").get("floor_relax").asDouble == 1.0)
  }

  test("box_factor reads the canaries on the sf0.1 lake") {
    val js = parse(Json.write(benchRecord(withSections = true, sf = "/data/lakes/sf0.1/",
      q1S = 2.922)._1))
    val bf = js.get("box_factor")
    assert(keys(bf) == Seq("ref", "median", "per_canary", "missing"))
    assert(bf.get("median").asDouble == 2.0)
    assert(keys(bf.get("per_canary")) == Seq("q1_pricing_summary"))
    assert(js.get("skew").get("floor_relax").asDouble == 2.0)
  }

  test("a failed streaming section is recorded with its error") {
    val (rec, failed) = Bench.record(oddPath, Nil, 0.0, None, None, Some(Bench.Section(
      RunMeter.Run("streaming", -1.0, Left("IOException: disk"), 0L, Map.empty, Nil), 0.0, 1.0)))
    assert(parse(Json.write(rec)).get("streaming").get("failed").asText == "IOException: disk")
    assert(failed == Seq("streaming"))
  }

  test("the skew sweep and streaming records escape the lake path") {
    val skew = parse(Json.write(SkewStress.sweepRecord(oddPath, 300, 1.0,
      Seq("p" -> SkewStress.SkewMeasure(0.5, 0.6, 100, 50, 8)))))
    assert(keys(skew) == Seq("metric", "src", "hot_permille", "floor_scale", "probes", "stragglers"))
    assert(skew.get("src").asText == oddPath)
    val stream = parse(Json.write(StreamingThroughput.record(oddPath, Seq(leg), Some(recovery))))
    assert(keys(stream) == Seq("metric", "sf", "scd2_incremental", "scd2_recovery", "floors",
      "below_floor"))
    assert(stream.get("sf").asText == oddPath)
    assert(stream.get("scd2_incremental").get("batch_ms").size == 4)
  }

  test("the Verify summary names each failure with its error") {
    val js = parse(Json.write(Verify.summary(Seq(run("a", 0.1234), run("b", -1.0,
      error = Some("AnalysisException: no \"col\"\n at line 1"))))))
    assert(js.get("pass").asInt == 1 && js.get("fail").asInt == 1)
    assert(js.get("queries").get("a").get("status").asText == "pass")
    assert(js.get("queries").get("a").get("seconds").asDouble == 0.123)
    assert(js.get("queries").get("b").get("error").asText ==
      "AnalysisException: no \"col\"\n at line 1")
  }

  test("round is half-up at the requested digits and passes NaN through") {
    assert(Json.write(Json.obj("a" -> Json.round(1.25, 1), "b" -> Json.round(2.0, 0),
      "c" -> Json.round(0.125, 2))) == """{"a":1.3,"b":2,"c":0.13}""")
    assert(Json.write(Json.round(Double.NaN, 2)) == "\"NaN\"")
  }
}
