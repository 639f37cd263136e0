package graft.dedup

import graft.SparkSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Saturation-shape pins for the simhash hamming multi-index (VERDICT r13
  * task #3). DedupSimSpec pins RECALL (banded == brute force), but the r13
  * 100×-killer was not recall — it was CARDINALITY: a per-document band
  * index surfaces every within-cluster pair under every matching key, so
  * on the dup-heavy corpora this query exists for, the band join turns
  * quadratic in cluster mass (measured 121× shuffle growth for 10× data)
  * while recall stays a perfect 1. These tests assert the two collapse
  * contracts on a deliberately dup-heavy synthetic corpus, where a
  * regression to per-doc banding changes the counted cardinalities and
  * fails `sbt test` instead of waiting for a 100× sweep:
  *  - the band stream carries EXACTLY C(5,2) = 10 rows per DISTINCT
  *    fingerprint (never per document);
  *  - pair output is output-proportional: Σ C(|cluster|,2) identity pairs
  *    plus the |A|·|B| cross-fp expansions, nothing intermediate;
  *  - the CATALOG query's executed plan generates exactly those row
  *    counts through its Generate (explode) nodes — binding the contract
  *    to the plan the driver actually measures, not just to the Dedup
  *    helpers (donor pattern: the r12 containment candidate-growth pin).
  */
class SimhashContractSpec extends SparkSuite {
  import spark.implicits._

  // Dup-heavy corpus: 8 clusters of 4-11 IDENTICAL docs (identical text ⇒
  // identical fingerprint) over disjoint per-cluster vocabularies, plus 20
  // singletons — ~28 distinct fingerprints from 80 documents, the shape
  // that saturated the per-doc index.
  private val clusterSizes = Seq(4, 5, 6, 7, 8, 9, 10, 11)

  private lazy val docsDf: DataFrame = {
    val rnd = new scala.util.Random(14L)
    def word(c: Int, i: Int) = s"w${c}x${i}q${rnd.nextInt(1000)}"
    val clustered = clusterSizes.zipWithIndex.flatMap { case (n, c) =>
      val text = (0 until 30).map(i => word(c, i)).mkString(" ")
      (0 until n).map(k => (c * 100L + k, text))
    }
    val singletons = (0 until 20).map { i =>
      (10000L + i, (0 until 30).map(j => word(100 + i, j)).mkString(" "))
    }
    (clustered ++ singletons).toDF("doc_id", "text")
  }

  private lazy val dir: String = {
    val d = SparkSuite.scratchDir("graft-simhash")
    docsDf.write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private lazy val fp = Dedup.simhash(docsDf, "doc_id", "text")

  /** Expected answer cardinality from the DISTINCT-fp table: identity
    * clusters contribute C(n,2); distinct-fp pairs within radius 3
    * contribute |A|·|B| (brute force over the handful of distinct fps).
    */
  private lazy val expectedPairs: Long = {
    val clusters = fp.groupBy("simhash").agg(count(lit(1)).as("n"))
      .select("simhash", "n").as[(Long, Long)].collect()
    val identity = clusters.map { case (_, n) => n * (n - 1) / 2 }.sum
    val cross = (for {
      (fa, na) <- clusters; (fb, nb) <- clusters
      if fa < fb && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield na * nb).sum
    identity + cross
  }

  test("band stream carries exactly C(5,2)=10 rows per DISTINCT fingerprint") {
    val distinctFp = fp.select("simhash").distinct().count()
    val nDocs = docsDf.count()
    assert(distinctFp <= nDocs / 2,
      s"fixture must be dup-heavy: $distinctFp distinct fps from $nDocs docs")
    val bandRows = Dedup.simhashBands(Dedup.simhashGroups(fp)).count()
    assert(bandRows === distinctFp * 10,
      s"band stream must be distinct-fp-sized × C(5,2): got $bandRows rows " +
        s"for $distinctFp distinct fps (per-doc banding would give ${nDocs * 10})")
  }

  test("pair output is Σ C(|cluster|,2) + cross-fp expansions, and the " +
      "catalog plan's Generate nodes produce exactly those cardinalities") {
    val df = graft.SparkEntry.queries("dedup_simhash_hamming")(spark, dir)
    val rows = df.collect()
    assert(rows.length.toLong === expectedPairs,
      s"pair output must be output-proportional: got ${rows.length}, want $expectedPairs")
    // no duplicate pairs (the fa<=fb self-meet + groupBy collapse holds)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length === rows.length)

    // bind the contract to the EXECUTED catalog plan: its explodes are the
    // band fanout (distinctFp × 10 — physically planned once per self-join
    // side) and the pair expansion (expectedPairs). EVERY Generate must
    // output one of those two cardinalities — a per-doc rebanding inflates
    // the band fanout to nDocs × 10 immediately
    val distinctFp = fp.select("simhash").distinct().count()
    val genRows = generateOutputRows(df.queryExecution.executedPlan)
    val allowed = Set(expectedPairs, distinctFp * 10)
    assert(genRows.nonEmpty && genRows.forall(allowed.contains) &&
        allowed.forall(genRows.contains),
      s"executed Generate cardinalities: got $genRows, " +
        s"want only band=${distinctFp * 10} and pairs=$expectedPairs")
  }

  /** numOutputRows of every GenerateExec in an executed adaptive plan. */
  private def generateOutputRows(p: SparkPlan): Seq[Long] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      generateOutputRows(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      generateOutputRows(s.plan)
    case g: org.apache.spark.sql.execution.GenerateExec =>
      g.metrics.get("numOutputRows").map(_.value).toSeq ++
        g.children.flatMap(generateOutputRows)
    case other => other.children.flatMap(generateOutputRows)
  }
}
