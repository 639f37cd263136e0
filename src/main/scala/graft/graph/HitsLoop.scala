package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The HITS half-round, factored out of the `hits_power_k3` QueryDef for
  * the same reason PageRankLoop exists: the query localCheckpoints every
  * half-round, so a plan pin has to build one UN-checkpointed half-round
  * from the code the query actually runs.
  *
  * Scale contract (asserted by `PlanSpec`): a half-round consumes its
  * orientation — a `PageRankLoop.persistedGraph` table, hash(src)-
  * partitioned and in-partition sorted — through a merge join with ZERO
  * exchange and ZERO sort on the edge side; only the node-proportional
  * score vector is exchanged. The hub→auth half reads the forward
  * orientation, the auth→hub half a REVERSED persisted copy, so BOTH
  * directions of the graph get the pinned treatment. Raw sums ride
  * DECIMAL(38,0) internally (HITS scores are unbounded by damping,
  * unlike pagerank's mass-conserving rounds) and must be normalized back
  * to BIGINT before leaving any query (the decimal-output rule).
  */
object HitsLoop {

  /** One un-checkpointed half-round: propagate `vecCol` scores across
    * the orientation and sum per destination into DECIMAL(38,0) `raw`.
    */
  def halfRound(orientation: DataFrame, vec: DataFrame, vecCol: String): DataFrame =
    orientation.hint("merge")
      .join(vec.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst"))
      .agg(sum(col(vecCol).cast(DecimalType(38, 0))).as("raw"))
      .withColumnRenamed("dst", "node")

  /** L1-renormalize `raw` to a BIGINT vector of total mass 1e12. The
    * global sum rides a 1-row checkpointed broadcast cross join (the
    * pagerank node-count pattern — no driver collect), and the decimal
    * stays internal: the output column is BIGINT.
    *
    * `raw` itself is checkpointed FIRST: the total and the normalizing
    * projection both consume it, and without the pin each half-round's
    * merge join + aggregate ran twice — once under the 1-row total, once
    * under the projection (the round-11 multi-consumer rule). The
    * projection over the pinned raw is already lineage-cut, so callers
    * need no further checkpoint on the returned vector.
    *
    * r18 second pass: the pin is LAZY (`eager = false`) — the LogicalRDD
    * leaf still truncates lineage at plan time (no 2^rounds subtree
    * doubling, same audit surface), but materialization folds into the
    * query's own job instead of one synchronous dispatch per half-round
    * (6 per run). HITS A/B at sf0.1/32 (OPTIMIZATION_r18.md): eager pins 2.24 s (runs
    * 5.6/3.2/2.2) vs lazy pins 1.74 s (1.9/1.8/1.7) — same rows
    * bit-exactly; the fused 3-pin and fully-lazy variants measured WORSE
    * (3.1 s / 22.7 s — the un-pinned form's exponential lineage is real).
    */
  def normalize(rawIn: DataFrame, outCol: String): DataFrame = {
    val raw = rawIn.localCheckpoint(false)
    // r17: no checkpoint on the 1-row total — unlike pagerank's node
    // count (reused across all rounds), each half-round's `tot` has ONE
    // consumer, so the eager pin only added a synchronous job dispatch
    // per half-round (6 per query); the broadcast computes the same
    // 1-row aggregate over the pinned `raw` exactly once either way.
    val tot = raw.agg(sum(col("raw")).as("tot"))
    raw.crossJoin(broadcast(tot))
      .select(col("node"),
        expr(s"CAST((raw * ${PageRankLoop.TotalMass}) div tot AS BIGINT)")
          .as(outCol))
  }
}
