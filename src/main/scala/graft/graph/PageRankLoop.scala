package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PageRank power-iteration loop body, factored out of the
  * `pagerank_power_k5` QueryDef so its per-round physical plan can be
  * pinned in CI (r10 verdict task #4): the query function eagerly
  * localCheckpoints every round, so by the time a test sees its plan only
  * the final RDD scan remains — the pin has to build ONE un-checkpointed
  * round from the same code the query runs.
  *
  * Scale contract per round (asserted by `PlanSpec`): the edge table is
  * PERSISTED hash-partitioned on `src` and sorted within partitions, so
  * the round's merge join consumes it with ZERO exchange and ZERO sort —
  * only the node-proportional rank vector is exchanged (once into the
  * join, once for the destination aggregate). Reference behavior
  * (iterative rollup cadence): shalini-p16/change-data-capture-poc
  * duckdb/analytics/transform_scd2.py:19-61 re-derives state per batch;
  * the power iteration is the graph-analytics extension of that replay
  * discipline.
  */
object PageRankLoop {

  /** Total fixed-point mass: Σ ranks = 1e12 (×85 stays ≪ 2^63). */
  val TotalMass = 1000000000000L

  /** Size-based partition count for the loop family's persisted working
    * set (VERDICT r17 item 2 / guide §2.2): the r17 form inherited
    * spark.sql.shuffle.partitions (= local cores), so every per-round
    * stage paid 32 task dispatches over KB-scale rank vectors and the
    * family ran SLOWER at 32 cores than at 8 (driver scaling ratios
    * 0.21–0.48). Derived from the optimizer's size estimate of the edge
    * subtree — ~1 MB of estimated input per partition (r18 sweep,
    * bench/evidence/loop_scaling_r18.json: at sf0.1, P=4 beat P=2 by 1.15× and P=32 by 2.8×; the
    * estimate scales with the lake, so the 10× smoke gets ~10× the
    * partitions) — clamped to [4, 4096]. The floor dodges the P=1
    * degeneracy (a single-partition HashPartitioning stops satisfying
    * the join's co-partition requirement, and EnsureRequirements then
    * re-exchanges the CACHED side — measured in the r18 loop sweep,
    * OPTIMIZATION_r18.md) and keeps
    * a minimum of parallelism; the cap bounds the small-file/task count
    * at cluster scale where shuffle.partitions governs anyway.
    */
  def loopPartitions(edges: DataFrame): Int = {
    val sized = ((edges.queryExecution.optimizedPlan.stats.sizeInBytes /
      (1L * 1024 * 1024)) + 1).min(4096).max(4).toInt
    // r18 second pass (10× smoke profile): once the data-derived count
    // reaches the session's shuffle parallelism, SNAP to it — every
    // per-round aggregate already produces hash(node, shuffle.partitions),
    // so a cache at the same count co-partitions the round's merge join
    // for FREE and rekeyToGraph's explicit exchange disappears (at 10×
    // the sized count was 39 vs 32, and the mismatch cost one
    // node-vector exchange per round — the whole 1.15× 10× overhead the
    // first pass accepted). Below the snap point small data keeps the
    // small sized count: the rekey exchange there moves KBs and the
    // dispatch savings dominate (loop_scaling_r18.json: P=4 beat P=32 by
    // 2.8× at sf0.1).
    val sp = edges.sparkSession.sessionState.conf.numShufflePartitions
    if (sized >= sp) sp else sized
  }

  /** (src, dst, outdeg) persisted with an explicit hash(src) repartition
    * plus in-partition sort: cached plans keep their declared
    * partitioning and ordering, so every round's merge join reads the
    * edge side with no exchange and no sort. A localCheckpoint here
    * measurably re-exchanged the edges every round (the AQE shuffle read
    * behind the pin reports unknown partitioning, so EnsureRequirements
    * re-added the big-side shuffle ×5).
    */
  def persistedGraph(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    edges.join(deg, "src").repartition(loopPartitions(edges), col("src"))
      .sortWithinPartitions("src").persist()
  }

  /** Re-key a node-keyed vector to the persisted graph's own hash(src)
    * layout and partition COUNT, so the round's merge join adds no
    * EnsureRequirements exchange on either side. This is the "rank
    * re-key" exchange the per-round contract already budgets — made
    * explicit because the r18 lazy loop bodies feed the join a vector
    * whose aggregate partitioning (hash(node, shuffle.partitions))
    * CONFLICTS with the cache's size-based count, and EnsureRequirements
    * resolves such conflicts by re-exchanging the cached (edge-sized)
    * side — the exact cliff the zero-exchange contract exists to avoid
    * (measured as variant C of the r18 loop sweep, OPTIMIZATION_r18.md).
    */
  def rekeyToGraph(graph: DataFrame, vec: DataFrame): DataFrame = {
    val p = graph.rdd.getNumPartitions
    val renamed = vec.withColumnRenamed("node", "src")
    // When the cache sits AT the session's shuffle parallelism (the
    // loopPartitions snap), the vector's own aggregate partitioning —
    // hash(node, shuffle.partitions), which the rename rewrites to
    // hash(src, p) — already satisfies the join's clustering, and an
    // explicit repartition here would INSERT the very exchange the snap
    // exists to remove (Spark does not elide an explicit repartition
    // whose child already matches). EnsureRequirements still guards the
    // edge side: if a caller ever hands a vector with a foreign
    // partitioning, the added exchange lands on the node-proportional
    // vector, never the cache (PlanSpec pins this).
    if (p == vec.sparkSession.sessionState.conf.numShufflePartitions) renamed
    else renamed.repartition(p, col("src"))
  }

  /** Uniform start vector: every node gets TotalMass div N. */
  def initRanks(graph: DataFrame, nB: DataFrame): DataFrame =
    graph.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(nB))
      .select(col("node"), expr(s"$TotalMass div n_nodes").as("r"))

  /** One un-checkpointed power-iteration round:
    * r' = (15·(TotalMass div N)) div 100 + (85·Σ_{in} r div outdeg) div 100.
    * The merge hint pins SMJ — the edge side GROWS with the corpus, so
    * letting AQE hash-build/broadcast it is the copurchase scale cliff;
    * SMJ rides the cached sort order for free. The rank side enters via
    * [[rekeyToGraph]] (the budgeted re-key exchange, at the cache's own
    * size-based partition count); the destination aggregate keeps its
    * map-side partial phase, so the round still exchanges node-
    * proportional bytes only.
    */
  def nextRanks(graph: DataFrame, ranks: DataFrame, nB: DataFrame): DataFrame =
    graph.hint("merge")
      .join(rekeyToGraph(graph, ranks), "src")
      .select(col("dst").as("node"), expr("r div outdeg").as("c"))
      .groupBy("node").agg(sum(col("c")).as("inmass"))
      .crossJoin(broadcast(nB))
      .select(col("node"),
        expr(s"(15 * ($TotalMass div n_nodes)) div 100 " +
          "+ (85 * inmass) div 100").as("r"))
}
