package graft.operators

import graft.QueryDef
import graft.QueryDef.t
import graft.similarity.Similarity

import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings` (`array<float>`, dim 64).
  * DuckDB oracles mirror the sequential-fold double arithmetic exactly
  * (see [[graft.similarity.Similarity]] numeric policy).
  */
object SimilarityQueries {

  /** DuckDB exact dot product between list columns a and b (left fold in
    * DOUBLE — bit-identical to Spark's `aggregate` fold).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  val defs: Seq[QueryDef] = Seq(

    // Brute-force exact top-k cosine neighbors for a small query set
    // (query side broadcast; corpus scanned once).
    QueryDef(
      "sim_topk_bruteforce",
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.bruteForceTopK(emb, emb.filter(col("id") < 10), k = 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
              |scored AS (
              |  SELECT query_id, c.vec_id AS neighbor_id,
              |         ${cosineSql("qvec", "c.embedding")} AS cosine_sim
              |  FROM embeddings c, q WHERE c.vec_id != query_id),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |            ORDER BY cosine_sim DESC, neighbor_id) AS rank
              |  FROM scored)
              |SELECT query_id, neighbor_id, cosine_sim, rank
              |FROM ranked WHERE rank <= 5""".stripMargin)),

    // Embedding-space near-duplicate pairs (cosine ≥ 0.4 — the corpus'
    // pairwise max is ~0.51, so the threshold yields a non-trivial result;
    // brute force at oracle scale, the LSH-bucketed variant is the scale
    // path and is exercised in the test suite for recall).
    QueryDef(
      "sim_cosine_neardups",
      (s, d) => Similarity.cosineNearDupsBrute(
        t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.4),
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  ${cosineSql("a.embedding", "b.embedding")} AS cosine_sim
              |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4""".stripMargin),
      bench = false),

    // Product-quantization ANN: corpus encoded as 4 subspace codes (16-entry
    // codebooks from the first 16 vectors); queries score candidates from a
    // per-query partial-dot lookup table, never touching raw corpus vectors
    // again (the compressed-domain scale path — Similarity PQ Scaladoc).
    // The oracle replays encode + ADC exactly, so the approximation itself
    // is hash-checked, like sim_ivf_topk.
    QueryDef(
      "sim_pq_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cb = Similarity.pqCodebook(emb.filter(col("id") < 16), "id", "vec", m = 4, subDim = 16)
        val codes = Similarity.pqCodesWide(
          Similarity.pqAssign(Similarity.subvectors(emb, "id", "vec", 4, 16), cb, "id"),
          "id", m = 4)
        val qsubs = Similarity.subvectors(emb.filter(col("id") < 10), "id", "vec", 4, 16)
          .withColumnRenamed("id", "query_id")
        Similarity.pqAdcTopK(codes, qsubs, cb, "id", "query_id",
          m = 4, codebookK = 16, k = 5)
      },
      Some {
        def sub(v: String) = s"$v[m*16+1 : m*16+16]"
        s"""WITH ms AS (SELECT unnest(range(0, 4)) AS m),
           |cb AS (SELECT m, CAST(vec_id AS INT) AS k, ${sub("embedding")} AS cvec
           |       FROM embeddings CROSS JOIN ms WHERE vec_id < 16),
           |subs AS (SELECT vec_id AS id, m, ${sub("embedding")} AS sub
           |         FROM embeddings CROSS JOIN ms),
           |assigned AS (
           |  SELECT id, m, k AS code FROM (
           |    SELECT s.id, s.m, c.k,
           |      ROW_NUMBER() OVER (PARTITION BY s.id, s.m ORDER BY
           |        (${dotSql("sub", "sub")} - 2 * ${dotSql("sub", "cvec")} +
           |         ${dotSql("cvec", "cvec")}), c.k) AS rn
           |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
           |wide AS (
           |  SELECT id,
           |    MAX(CASE WHEN m = 0 THEN code END) AS c0,
           |    MAX(CASE WHEN m = 1 THEN code END) AS c1,
           |    MAX(CASE WHEN m = 2 THEN code END) AS c2,
           |    MAX(CASE WHEN m = 3 THEN code END) AS c3
           |  FROM assigned GROUP BY id),
           |lut AS (
           |  SELECT s.id AS qid, s.m, c.k, ${dotSql("sub", "cvec")} AS pdot
           |  FROM subs s JOIN cb c ON s.m = c.m WHERE s.id < 10),
           |scored AS (
           |  SELECT l0.qid AS query_id, w.id AS neighbor_id,
           |    l0.pdot + l1.pdot + l2.pdot + l3.pdot AS approx_dot
           |  FROM wide w
           |  JOIN lut l0 ON l0.m = 0 AND l0.k = w.c0
           |  JOIN lut l1 ON l1.qid = l0.qid AND l1.m = 1 AND l1.k = w.c1
           |  JOIN lut l2 ON l2.qid = l0.qid AND l2.m = 2 AND l2.k = w.c2
           |  JOIN lut l3 ON l3.qid = l0.qid AND l3.m = 3 AND l3.k = w.c3
           |  WHERE w.id != l0.qid)
           |SELECT query_id, neighbor_id, approx_dot, rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |            ORDER BY approx_dot DESC, neighbor_id) AS rank
           |  FROM scored) WHERE rank <= 5""".stripMargin
      }),

    // IVF-PQ with RESIDUAL quantization — the production ANN index layout
    // (FAISS IVFPQ): vectors are PQ-encoded not on their raw values but
    // on the residual vec − centroid, which concentrates the quantizer's
    // dynamic range on the within-cell variation (the whole reason IVFPQ
    // beats flat PQ at equal bits), and the ADC probe scores
    // dot(q, centroid) + Σ_m lut[m, code_m] — the centroid term restores
    // what the residual dropped — restricted to the query's own cell.
    // Codebooks are the first-16 residuals per subspace (deterministic
    // seeds, the sim_pq_topk convention); residual arithmetic is the
    // identical CAST-to-double chain on both engines, so encode + probe
    // replay exactly under the oracle like the rest of the ANN family.
    QueryDef(
      "sim_ivfpq_residual_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cents = broadcast(emb.filter(col("id") < 8)
          .select(col("id").as("centroid_id"), col("vec").as("cvec"),
            Similarity.l2Norm(col("vec")).as("cnorm")))
        def assignDf(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("vnorm", Similarity.l2Norm(col("vec")))
          .crossJoin(cents)
          .withColumn("csim", Similarity.dot(col("vec"), col("cvec")) /
            (col("vnorm") * col("cnorm")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("vec"), col("centroid_id")),
            struct(col("csim"), (-col("centroid_id")).as("nc"))).as("best"))
          .select(col("id"), col("best.vec").as("vec"),
            col("best.centroid_id").as("centroid_id"))
        def residOf(a: org.apache.spark.sql.DataFrame) = a
          .join(broadcast(cents.select(col("centroid_id"), col("cvec"))), Seq("centroid_id"))
          .withColumn("rv",
            expr("zip_with(vec, cvec, (a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"))
          .select(col("id"), col("centroid_id"), col("rv"))
        // r18 FINAL: the r17 end-of-round pins (localCheckpoint on
        // assigned/resid, 794748d) are fully reverted — the same-box A/B
        // (bench_r17a 0.56 s lazy vs bench_r18a 1.29 s pinned+audit-proofed)
        // showed the synchronous checkpoint jobs and the stats-blind-leaf
        // scaffolding they require (shuffle_hash crutch, small-table
        // recomputes) cost 2.3× at the sf0.1 head, and the audit-proofing
        // existed only because of the pins. Lazy subtrees carry real scan
        // stats, so AQE's exchange reuse shares the assignment across
        // consumers and every broadcast build is stats-bounded — no
        // checkpointed leaf, no r12 broadcast cliff, WindowAudit clean by
        // construction.
        val assigned = assignDf(emb)
        val resid = residOf(assigned)
        val cb = Similarity.pqCodebook(
          resid.filter(col("id") < 16).select(col("id"), col("rv").as("vec")),
          "id", "vec", m = 4, subDim = 16)
        val codes = Similarity.pqCodesWide(
          Similarity.pqAssign(
            Similarity.subvectors(resid.select(col("id"), col("rv").as("vec")),
              "id", "vec", 4, 16), cb, "id"),
          "id", m = 4)
          .join(resid.select("id", "centroid_id"), Seq("id"))
        val q = assigned.filter(col("id") < 10)
          .select(col("id").as("query_id"), col("vec").as("qvec"), col("centroid_id"))
        val qsubs = Similarity.subvectors(
          q.select(col("query_id"), col("qvec").as("vec")), "query_id", "vec", 4, 16)
        val lut = qsubs.join(broadcast(cb), "m")
          .select(col("query_id"), (col("m") * 16 + col("k")).as("mk"),
            Similarity.dot(col("sub"), col("cvec")).as("pdot"))
          .groupBy("query_id")
          .agg(map_from_entries(collect_list(struct(col("mk"), col("pdot"))))
            .as("lut"))
        val qc = q.join(broadcast(cents.select(col("centroid_id"), col("cvec"))),
            Seq("centroid_id"))
          .withColumn("qc_dot", Similarity.dot(col("qvec"), col("cvec")))
          .select("query_id", "centroid_id", "qc_dot")
        // association order matches the oracle's left-to-right sum:
        // ((((qc + l0) + l1) + l2) + l3) — FP grouping is part of the contract
        val approx = (Seq(col("qc_dot")) ++ (0 until 4).map { i =>
          element_at(col("lut"), lit(i * 16) + col(s"c$i"))
        }).reduce(_ + _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("approx_dot").desc, col("id"))
        codes.join(broadcast(qc), Seq("centroid_id"))
          .filter(col("id") =!= col("query_id"))
          .join(broadcast(lut), Seq("query_id"))
          .withColumn("approx_dot", approx)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("id").as("neighbor_id"),
            col("approx_dot"), col("rank"))
      },
      Some {
        def sub(v: String) = s"$v[m*16+1 : m*16+16]"
        s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec,
           |                      sqrt(${dotSql("embedding", "embedding")}) AS cnorm
           |               FROM embeddings WHERE vec_id < 8),
           |assigned AS (
           |  SELECT id, vec, centroid_id FROM (
           |    SELECT e.vec_id AS id, e.embedding AS vec, centroid_id,
           |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |             ${dotSql("e.embedding", "cvec")} /
           |               (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm) DESC,
           |             centroid_id) AS rn
           |    FROM embeddings e CROSS JOIN cents) WHERE rn = 1),
           |resid AS (
           |  SELECT a.id, a.centroid_id,
           |    list_transform(range(1, len(a.vec) + 1),
           |      i -> CAST(a.vec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) AS rv
           |  FROM assigned a JOIN cents c USING (centroid_id)),
           |ms AS (SELECT unnest(range(0, 4)) AS m),
           |cb AS (SELECT m, CAST(id AS INT) AS k, ${sub("rv")} AS cvec
           |       FROM resid CROSS JOIN ms WHERE id < 16),
           |subs AS (SELECT id, m, ${sub("rv")} AS sub FROM resid CROSS JOIN ms),
           |enc AS (
           |  SELECT id, m, k AS code FROM (
           |    SELECT s.id, s.m, c.k,
           |      ROW_NUMBER() OVER (PARTITION BY s.id, s.m ORDER BY
           |        (${dotSql("sub", "sub")} - 2 * ${dotSql("sub", "cvec")} +
           |         ${dotSql("cvec", "cvec")}), c.k) AS rn
           |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
           |wide AS (
           |  SELECT e.id, a.centroid_id,
           |    MAX(CASE WHEN m = 0 THEN code END) AS c0,
           |    MAX(CASE WHEN m = 1 THEN code END) AS c1,
           |    MAX(CASE WHEN m = 2 THEN code END) AS c2,
           |    MAX(CASE WHEN m = 3 THEN code END) AS c3
           |  FROM enc e JOIN assigned a USING (id) GROUP BY e.id, a.centroid_id),
           |q AS (SELECT id AS query_id, vec AS qvec, centroid_id
           |      FROM assigned WHERE id < 10),
           |qsubs AS (SELECT query_id, m,
           |            list_transform(range(1, 17),
           |              i -> CAST(qvec[m * 16 + i] AS DOUBLE)) AS sub
           |          FROM q CROSS JOIN ms),
           |lut AS (
           |  SELECT s.query_id, s.m, c.k, ${dotSql("sub", "cvec")} AS pdot
           |  FROM qsubs s JOIN cb c ON s.m = c.m),
           |qc AS (
           |  SELECT query_id, q.centroid_id, ${dotSql("qvec", "cvec")} AS qc_dot
           |  FROM q JOIN cents c ON c.centroid_id = q.centroid_id),
           |scored AS (
           |  SELECT qc.query_id, w.id AS neighbor_id,
           |    qc.qc_dot + l0.pdot + l1.pdot + l2.pdot + l3.pdot AS approx_dot
           |  FROM wide w
           |  JOIN qc ON qc.centroid_id = w.centroid_id
           |  JOIN lut l0 ON l0.query_id = qc.query_id AND l0.m = 0 AND l0.k = w.c0
           |  JOIN lut l1 ON l1.query_id = qc.query_id AND l1.m = 1 AND l1.k = w.c1
           |  JOIN lut l2 ON l2.query_id = qc.query_id AND l2.m = 2 AND l2.k = w.c2
           |  JOIN lut l3 ON l3.query_id = qc.query_id AND l3.m = 3 AND l3.k = w.c3
           |  WHERE w.id != qc.query_id)
           |SELECT query_id, neighbor_id, approx_dot, rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |            ORDER BY approx_dot DESC, neighbor_id) AS rank
           |  FROM scored) WHERE rank <= 5""".stripMargin
      }),

    // Embedding outlier screen — index hygiene before an ANN build: per
    // vector, the cosine distance to its assigned centroid, then a
    // per-CLUSTER robust MAD gate (median and MAD of the 1e9-quantized
    // distances, rank-selected lower medians — never interpolated) flags
    // vectors beyond 3×MAD of their own cluster's typical spread:
    // corrupted ingests, wrong-space embeddings, and label noise that
    // would poison centroid training. All ranking windows are keyed by
    // centroid (bounded per-cluster state); flags compare exact
    // integers.
    QueryDef(
      "embedding_outlier_screen",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cents = broadcast(emb.filter(col("id") < 8)
          .select(col("id").as("centroid_id"), col("vec").as("cvec"),
            Similarity.l2Norm(col("vec")).as("cnorm")))
        val assigned = emb
          .withColumn("vnorm", Similarity.l2Norm(col("vec")))
          .crossJoin(cents)
          .withColumn("csim", Similarity.dot(col("vec"), col("cvec")) /
            (col("vnorm") * col("cnorm")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("centroid_id"), col("csim")),
            struct(col("csim"), (-col("centroid_id")).as("nc"))).as("best"))
          .select(col("id"), col("best.centroid_id").as("centroid_id"),
            (round((lit(1.0) - col("best.csim")) * lit(1e9))).cast("long").as("dist_q"))
        // r18 FINAL: the r17 end-of-round pin on `assigned` (794748d) is
        // reverted — same-box A/B (bench_r17a 0.49 s lazy vs bench_r18a
        // 0.67 s pinned) showed the checkpoint jobs cost ~1.4× at the
        // head while AQE exchange reuse already shares the crossJoin+argmax
        // aggregate across the sizes/median/deviation consumers. With no
        // stats-blind leaf the med/mad broadcasts build from real
        // aggregates, so the WindowAudit identity-groupBy scaffolding is
        // unnecessary and dropped with the pin.
        val byDist = w.partitionBy("centroid_id").orderBy(col("dist_q"), col("id"))
        val sizes = assigned.groupBy("centroid_id").agg(count(lit(1)).as("n_c"))
        val med = assigned
          .withColumn("rn", row_number().over(byDist).cast("long"))
          .join(broadcast(sizes), Seq("centroid_id"))
          .filter(col("rn") === expr("(n_c + 1) div 2"))
          .select(col("centroid_id"), col("dist_q").as("med_q"))
        val dev = assigned.join(broadcast(med), Seq("centroid_id"))
          .withColumn("adev", abs(col("dist_q") - col("med_q")))
        val byDev = w.partitionBy("centroid_id").orderBy(col("adev"), col("id"))
        val mad = dev
          .withColumn("rn", row_number().over(byDev).cast("long"))
          .join(broadcast(sizes), Seq("centroid_id"))
          .filter(col("rn") === expr("(n_c + 1) div 2"))
          .select(col("centroid_id"), col("adev").as("mad_q"))
        dev.join(broadcast(mad), Seq("centroid_id"))
          .filter(col("adev") > col("mad_q") * 3)
          .select(col("id").as("vec_id"), col("centroid_id"), col("dist_q"),
            col("med_q"), col("mad_q"))
          .orderBy("vec_id")
      },
      Some(s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec,
           |                      sqrt(${dotSql("embedding", "embedding")}) AS cnorm
           |               FROM embeddings WHERE vec_id < 8),
           |assigned AS (
           |  SELECT id, centroid_id,
           |    CAST(round((1.0 - csim) * 1e9) AS BIGINT) AS dist_q FROM (
           |    SELECT e.vec_id AS id, centroid_id,
           |           ${dotSql("e.embedding", "cvec")} /
           |             (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm)
           |             AS csim,
           |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |             ${dotSql("e.embedding", "cvec")} /
           |               (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm) DESC,
           |             centroid_id) AS rn
           |    FROM embeddings e CROSS JOIN cents) WHERE rn = 1),
           |sz AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_c
           |       FROM assigned GROUP BY 1),
           |med AS (SELECT centroid_id, dist_q AS med_q FROM (
           |  SELECT a.centroid_id, dist_q, n_c,
           |    ROW_NUMBER() OVER (PARTITION BY a.centroid_id
           |      ORDER BY dist_q, id) AS rn
           |  FROM assigned a JOIN sz USING (centroid_id))
           |  WHERE rn = (n_c + 1) // 2),
           |dev AS (SELECT a.*, med_q, abs(dist_q - med_q) AS adev
           |        FROM assigned a JOIN med USING (centroid_id)),
           |mad AS (SELECT centroid_id, adev AS mad_q FROM (
           |  SELECT d.centroid_id, adev, n_c,
           |    ROW_NUMBER() OVER (PARTITION BY d.centroid_id
           |      ORDER BY adev, id) AS rn
           |  FROM dev d JOIN sz USING (centroid_id))
           |  WHERE rn = (n_c + 1) // 2)
           |SELECT id AS vec_id, dev.centroid_id, dist_q, dev.med_q, mad_q
           |FROM dev JOIN mad USING (centroid_id)
           |WHERE adev > mad_q * 3
           |ORDER BY vec_id""".stripMargin)),

    // Per-dimension corpus statistics (the feature-scaling / quantizer
    // calibration pass every vector index build runs): posexplode each
    // vector to (dim, value), aggregate count/sum/min/max per dimension.
    // Scale shape: the explode multiplies rows by d=64, but partial
    // aggregation combines map-side down to 64 rows per task before the
    // single 64-row exchange — corpus size only affects the scan. The
    // float→double cast is exact; the double→DECIMAL(18,9) rounding on the
    // sum is engine-identical (same policy as sim_norm_stats).
    QueryDef(
      "embedding_dim_stats",
      (s, d) => t(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,9)")).cast("double").as("sum_v"),
          min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("dim"),
      Some("""WITH x AS (
             |  SELECT unnest(list_transform(range(0, len(embedding)),
             |    i -> struct_pack(dim := i, v := CAST(embedding[i + 1] AS DOUBLE)))) AS u
             |  FROM embeddings)
             |SELECT CAST(u.dim AS BIGINT) AS dim, count(*) AS n,
             |  CAST(sum(CAST(u.v AS DECIMAL(18,9))) AS DOUBLE) AS sum_v,
             |  min(u.v) AS min_v, max(u.v) AS max_v
             |FROM x GROUP BY 1 ORDER BY dim""".stripMargin)),

    // Per-label, per-dimension centroid drift between two corpus halves
    // (vec_id parity — a deterministic A/B split at any scale) — the
    // embedding-distribution monitor that catches an encoder change or a
    // corrupted ingest batch before an index rebuild: a healthy corpus
    // shows near-zero mean shift per dimension. Numeric policy: per-half
    // per-dim sums ride exact DECIMAL(18,9), are converted to integer
    // NANOS, and the mean difference is cross-multiplied (s0·n1 − s1·n0)
    // so the whole audit is BIGINT-exact — no FP ever compares. Scale
    // shape: one posexplode + map-side-combined aggregate on
    // (label, half, dim) — |labels|·2·dims rows of state regardless of
    // corpus size — then an O(labels·dims) pivot; consumers threshold
    // diff_nano, which avoids squaring (an int64 overflow at corpus
    // counts) and keeps the argmax to the reader.
    QueryDef(
      "embedding_centroid_drift",
      (s, d) => {
        val ex = t(s, d, "embeddings")
          .select(col("label"), (col("vec_id") % 2).cast("long").as("half"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("label"), col("half"), col("dim").cast("long").as("dim"),
            col("v").cast("double").cast("decimal(18,9)").as("vd"))
        ex.groupBy("label", "half", "dim")
          .agg(sum(col("vd")).as("sv"), count(lit(1)).as("n"))
          .groupBy("label", "dim")
          .agg(
            max(when(col("half") === 0, col("sv"))).as("s0"),
            max(when(col("half") === 0, col("n"))).as("n0"),
            max(when(col("half") === 1, col("sv"))).as("s1"),
            max(when(col("half") === 1, col("n"))).as("n1"))
          .select(col("label"), col("dim"),
            col("n0").as("n_even"), col("n1").as("n_odd"),
            (expr("CAST(s0 * 1000000000 AS BIGINT)") * col("n1")
              - expr("CAST(s1 * 1000000000 AS BIGINT)") * col("n0"))
              .as("diff_nano"))
          .orderBy("label", "dim")
      },
      Some("""WITH ex AS (
             |  SELECT label, CAST(vec_id % 2 AS BIGINT) AS half,
             |    CAST(u.dim AS BIGINT) AS dim,
             |    CAST(CAST(u.v AS DOUBLE) AS DECIMAL(18,9)) AS vd
             |  FROM (SELECT label, vec_id,
             |          unnest(list_transform(range(0, len(embedding)),
             |            i -> struct_pack(dim := i, v := embedding[i + 1]))) AS u
             |        FROM embeddings)),
             |agg AS (
             |  SELECT label, half, dim, sum(vd) AS sv, CAST(count(*) AS BIGINT) AS n
             |  FROM ex GROUP BY 1, 2, 3),
             |piv AS (
             |  SELECT label, dim,
             |    max(CASE WHEN half = 0 THEN sv END) AS s0,
             |    max(CASE WHEN half = 0 THEN n END) AS n0,
             |    max(CASE WHEN half = 1 THEN sv END) AS s1,
             |    max(CASE WHEN half = 1 THEN n END) AS n1
             |  FROM agg GROUP BY 1, 2)
             |SELECT label, dim, n0 AS n_even, n1 AS n_odd,
             |  CAST(CAST(s0 * 1000000000 AS BIGINT) * n1
             |     - CAST(s1 * 1000000000 AS BIGINT) * n0 AS BIGINT) AS diff_nano
             |FROM piv ORDER BY label, dim""".stripMargin)),

    // Per-label centroid-free stats: vector norms + label aggregation —
    // exercises HOF arithmetic inside a grouped aggregation.
    QueryDef(
      "sim_norm_stats",
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), Similarity.l2Norm(col("embedding")).as("norm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
             sum(col("norm").cast("decimal(18,9)")).cast("double").as("sum_norm"))
        .orderBy("label"),
      Some(s"""SELECT label, count(*) AS n_vecs,
              |  CAST(sum(CAST(sqrt(${dotSql("embedding", "embedding")}) AS DECIMAL(18,9))) AS DOUBLE) AS sum_norm
              |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // Symmetric per-vector int8 quantization + round-trip error audit —
    // the compression step before an embedding corpus ships to an ANN
    // index (4× smaller than float32, which at 100 TB is the difference
    // between an index that fits executor memory and one that doesn't).
    // Per vector: scale = 127/max|x|, q = round(x·scale), error =
    // max|x − q/scale|; reported per label as an exact max (max of
    // doubles is order-independent, so no decimal routing is needed —
    // a SUM of the errors would not be cross-engine stable). All
    // arithmetic is identical IEEE ops on identical doubles; round() is
    // half-away-from-zero on both engines. Zero vectors are excluded
    // (scale undefined) on both sides.
    QueryDef(
      "embedding_int8_quantize",
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), col("embedding"),
          array_max(transform(col("embedding"), v => abs(v.cast("double")))).as("mx"))
        .filter(col("mx") > 0)
        .withColumn("scale", lit(127.0) / col("mx"))
        .select(col("label"), array_max(transform(col("embedding"), v =>
          abs(v.cast("double") -
            round(v.cast("double") * col("scale")) / col("scale")))).as("err"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), max(col("err")).as("max_q_err"))
        .orderBy("label"),
      Some("""WITH v AS (
             |  SELECT label, embedding,
             |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
             |  FROM embeddings),
             |e AS (
             |  SELECT label, list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)
             |               - round(CAST(x AS DOUBLE) * scale) / scale))) AS err
             |  FROM (SELECT label, embedding, 127.0 / mx AS scale FROM v WHERE mx > 0))
             |SELECT label, count(*) AS n_vecs, max(err) AS max_q_err
             |FROM e GROUP BY label ORDER BY label""".stripMargin)),

    // kNN label-vote evaluation — the supervised quality check run on an
    // embedding space (is the space good enough that neighbors share
    // labels?): 5 nearest corpus neighbors per held-out probe by exact
    // cosine, majority vote, per-label accuracy counts. Probe side
    // broadcasts (a bounded eval set); the corpus is scanned once; the
    // rank<=5 filter compiles to WindowGroupLimit (per-probe k-row limit,
    // no global sort). Ties are pinned on both engines: neighbor ties by
    // (sim DESC, c_id), vote ties by the smaller label. The neighbor
    // ranking key is the cosine QUANTIZED to an integer (round(sim*1e12))
    // on both engines, so a sub-1e-12 cross-engine ULP wobble at the
    // rank-5 boundary cannot flip top-5 membership — the raw-double
    // ordering went hash-red in CORRECTNESS_r06 without reproducing
    // locally, which is exactly the signature of an environment-dependent
    // last-bit divergence.
    QueryDef(
      "knn_label_vote",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings")
        val probes = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("label").as("true_label"))
        val corpus = emb.filter(col("vec_id") >= 50)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
            col("label").as("c_label"))
        val byQ = w.partitionBy("q_id").orderBy(col("sim_q").desc, col("c_id"))
        val top5 = corpus.crossJoin(broadcast(probes))
          .withColumn("sim_q",
            round(Similarity.cosine(col("q_vec"), col("c_vec")) * lit(1e12)).cast("long"))
          .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 5)
        val byVote = w.partitionBy("q_id").orderBy(col("n_votes").desc, col("c_label"))
        top5.groupBy("q_id", "true_label", "c_label")
          .agg(count(lit(1)).as("n_votes"))
          .withColumn("rk", row_number().over(byVote)).filter(col("rk") === 1)
          .groupBy("true_label")
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("c_label") === col("true_label"), 1L).otherwise(0L))
              .as("n_correct"))
          .orderBy("true_label")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qvec, label AS true_label
              |           FROM embeddings WHERE vec_id < 50),
              |scored AS (
              |  SELECT q_id, true_label, c.label AS c_label, c.vec_id AS c_id,
              |         CAST(round(${cosineSql("qvec", "c.embedding")} * 1e12) AS BIGINT) AS sim_q
              |  FROM embeddings c, q WHERE c.vec_id >= 50),
              |top5 AS (
              |  SELECT * FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |              ORDER BY sim_q DESC, c_id) AS rn
              |    FROM scored) WHERE rn <= 5),
              |votes AS (
              |  SELECT q_id, true_label, c_label, count(*) AS n_votes
              |  FROM top5 GROUP BY 1, 2, 3),
              |pred AS (
              |  SELECT * FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |              ORDER BY n_votes DESC, c_label) AS rk
              |    FROM votes) WHERE rk = 1)
              |SELECT true_label, count(*) AS n_probes,
              |  CAST(sum(CASE WHEN c_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
              |FROM pred GROUP BY true_label ORDER BY true_label""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication prunes near-duplicate PAIRS inside each coarse
    // cluster — pairwise cosine is computed only between vectors assigned
    // to the SAME centroid, never across the corpus. At 100 TB the
    // centroid_id equi-join is the partitioner (nlist buckets, each a
    // tiny fraction of the corpus); the quadratic term is bounded by the
    // largest cluster, not corpus size — which is exactly why production
    // SemDeDup scales nlist with the corpus (∝√N, keeping expected
    // cluster size √N and pair work ~N); the fixed nlist=8 here is the
    // sf-pinned test parameter. Both join sides are the same
    // assignment subtree shuffled on the same key, so Spark reuses one
    // exchange. Similarity is quantized to an integer (round(cos·1e12))
    // BEFORE the threshold compare and in the output, so the boundary and
    // the hash are immune to last-bit double divergence (the knn_label_vote
    // lesson from round 6).
    QueryDef(
      "sim_cluster_neardup_pairs",
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cents = broadcast(emb.filter(col("id") < 8)
          .select(col("id").as("centroid_id"), col("vec").as("cvec"),
            Similarity.l2Norm(col("vec")).as("cnorm")))
        val assigned = emb
          .withColumn("vnorm", Similarity.l2Norm(col("vec")))
          .crossJoin(cents)
          .withColumn("csim", Similarity.dot(col("vec"), col("cvec")) /
            (col("vnorm") * col("cnorm")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("vec"), col("vnorm"), col("centroid_id")),
            struct(col("csim"), (-col("centroid_id")).as("nc"))).as("best"))
          .select(col("id"), col("best.vec").as("vec"),
            col("best.vnorm").as("vnorm"), col("best.centroid_id").as("centroid_id"))
        val a = assigned.select(col("centroid_id"), col("id").as("id_a"),
          col("vec").as("vec_a"), col("vnorm").as("norm_a"))
        val b = assigned.select(col("centroid_id"), col("id").as("id_b"),
          col("vec").as("vec_b"), col("vnorm").as("norm_b"))
        a.join(b, "centroid_id")
          .filter(col("id_a") < col("id_b"))
          .withColumn("sim_q",
            round(Similarity.dot(col("vec_a"), col("vec_b")) /
              (col("norm_a") * col("norm_b")) * lit(1e12)).cast("long"))
          .filter(col("sim_q") >= 400000000000L)
          .select("centroid_id", "id_a", "id_b", "sim_q")
      },
      Some(s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec,
              |                      sqrt(${dotSql("embedding", "embedding")}) AS cnorm
              |               FROM embeddings WHERE vec_id < 8),
              |assigned AS (
              |  SELECT id, vec, vnorm, centroid_id FROM (
              |    SELECT e.vec_id AS id, e.embedding AS vec,
              |           sqrt(${dotSql("e.embedding", "e.embedding")}) AS vnorm,
              |           centroid_id,
              |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |             ${dotSql("e.embedding", "cvec")} /
              |               (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm) DESC,
              |             centroid_id) AS rn
              |    FROM embeddings e CROSS JOIN cents) WHERE rn = 1),
              |pairs AS (
              |  SELECT a.centroid_id, a.id AS id_a, b.id AS id_b,
              |         CAST(round(${dotSql("a.vec", "b.vec")} /
              |           (a.vnorm * b.vnorm) * 1e12) AS BIGINT) AS sim_q
              |  FROM assigned a JOIN assigned b
              |    ON a.centroid_id = b.centroid_id AND a.id < b.id)
              |SELECT centroid_id, id_a, id_b, sim_q FROM pairs
              |WHERE sim_q >= 400000000000""".stripMargin)),

    // ANN quality audit: recall@10 of the IVF probe path against the
    // brute-force ground truth, per probe vector — the evaluation loop
    // that accompanies any approximate index rollout. Ground truth scans
    // the corpus once against a broadcast probe set; the IVF leg restricts
    // candidates to the probe's own centroid bucket (the sim_ivf_topk
    // plan); both rank on the SAME integer-quantized similarity key so
    // top-10 membership is tie-proof across engines. Output is one row
    // per probe — integers plus an exact-rational recall.
    QueryDef(
      "ann_recall_eval",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cents = broadcast(emb.filter(col("id") < 8)
          .select(col("id").as("centroid_id"), col("vec").as("cvec"),
            Similarity.l2Norm(col("vec")).as("cnorm")))
        def assign(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("vnorm", Similarity.l2Norm(col("vec")))
          .crossJoin(cents)
          .withColumn("csim", Similarity.dot(col("vec"), col("cvec")) /
            (col("vnorm") * col("cnorm")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("vec"), col("vnorm"), col("centroid_id")),
            struct(col("csim"), (-col("centroid_id")).as("nc"))).as("best"))
          .select(col("id"), col("best.vec").as("vec"),
            col("best.vnorm").as("vnorm"), col("best.centroid_id").as("centroid_id"))
        val q = broadcast(assign(emb.filter(col("id") < 50))
          .select(col("id").as("q_id"), col("vec").as("qvec"),
            col("vnorm").as("qnorm"), col("centroid_id").as("q_cent")))
        // r18: the r17 end-of-round pins on `c` and `ivf` were reverted —
        // the driver measured the pinned form SLOWER at the sf0.1 head
        // (0.52 -> 0.77 s box-adj) and the stats-blind checkpointed leaf
        // tripped the broadcast-builds-a-checkpointed-table CI audit. The
        // lazy form lets AQE reuse the shared exchange across consumers.
        val c = assign(emb.filter(col("id") >= 50))
          .select(col("id").as("c_id"), col("vec").as("cvec2"),
            col("vnorm").as("cnorm2"), col("centroid_id").as("c_cent"))
        val simQ = round(Similarity.dot(col("qvec"), col("cvec2")) /
          (col("qnorm") * col("cnorm2")) * lit(1e12)).cast("long")
        val byQ = w.partitionBy("q_id").orderBy(col("sim_q").desc, col("c_id"))
        val brute = c.crossJoin(q).withColumn("sim_q", simQ)
          .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 10)
          .select("q_id", "c_id")
        val ivf = c.join(q, col("q_cent") === col("c_cent"))
          .withColumn("sim_q", simQ)
          .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 10)
          .select("q_id", "c_id")
        val ivfK = ivf.groupBy("q_id").agg(count(lit(1)).as("ivf_k"))
        brute.join(ivf.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left_outer")
          .groupBy("q_id")
          .agg(count(lit(1)).as("brute_k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
          .join(ivfK, Seq("q_id"), "left_outer")
          .select(col("q_id"), col("brute_k"),
            coalesce(col("ivf_k"), lit(0L)).as("ivf_k"), col("n_overlap"),
            (col("n_overlap").cast("double") / col("brute_k").cast("double"))
              .as("recall_at_10"))
      },
      Some(s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec,
              |                      sqrt(${dotSql("embedding", "embedding")}) AS cnorm
              |               FROM embeddings WHERE vec_id < 8),
              |assigned AS (
              |  SELECT id, vec, vnorm, centroid_id FROM (
              |    SELECT e.vec_id AS id, e.embedding AS vec,
              |           sqrt(${dotSql("e.embedding", "e.embedding")}) AS vnorm,
              |           centroid_id,
              |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |             ${dotSql("e.embedding", "cvec")} /
              |               (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm) DESC,
              |             centroid_id) AS rn
              |    FROM embeddings e CROSS JOIN cents) WHERE rn = 1),
              |q AS (SELECT id AS q_id, vec AS qvec, vnorm AS qnorm,
              |             centroid_id AS q_cent FROM assigned WHERE id < 50),
              |c AS (SELECT id AS c_id, vec AS cvec2, vnorm AS cnorm2,
              |             centroid_id AS c_cent FROM assigned WHERE id >= 50),
              |brute AS (SELECT q_id, c_id FROM (
              |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
              |    CAST(round(${dotSql("qvec", "cvec2")} / (qnorm * cnorm2) * 1e12)
              |         AS BIGINT) DESC, c_id) AS rn
              |  FROM c CROSS JOIN q) WHERE rn <= 10),
              |ivf AS (SELECT q_id, c_id FROM (
              |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
              |    CAST(round(${dotSql("qvec", "cvec2")} / (qnorm * cnorm2) * 1e12)
              |         AS BIGINT) DESC, c_id) AS rn
              |  FROM c JOIN q ON q_cent = c_cent) WHERE rn <= 10),
              |ivfk AS (SELECT q_id, count(*) AS ivf_k FROM ivf GROUP BY 1),
              |ov AS (SELECT b.q_id, count(*) AS brute_k,
              |         CAST(sum(CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END)
              |              AS BIGINT) AS n_overlap
              |       FROM brute b LEFT JOIN ivf i
              |         ON b.q_id = i.q_id AND b.c_id = i.c_id
              |       GROUP BY 1)
              |SELECT ov.q_id, brute_k, coalesce(ivf_k, 0) AS ivf_k, n_overlap,
              |  CAST(n_overlap AS DOUBLE) / CAST(brute_k AS DOUBLE) AS recall_at_10
              |FROM ov LEFT JOIN ivfk ON ov.q_id = ivfk.q_id""".stripMargin)),

    // Matryoshka-style truncated-dimension retrieval audit (Kusupati et
    // al. 2022, arXiv:2205.13147): rank the corpus per probe by the full
    // 64-dim cosine AND by the 16-dim PREFIX cosine, and count the top-10
    // overlap — the measurement behind serving ANN on a cheap prefix and
    // re-ranking survivors with full vectors (4× less memory bandwidth on
    // the candidate pass). Scale shape: ONE corpus scan computes both
    // similarities (the prefix is sliced in the same projection, never a
    // second table), and both row_number rankings partition on q_id, so
    // the second window rides the first's exchange — two sorts, one
    // shuffle. Both ranking keys are integer-quantized cosines
    // (round(sim·1e12), the knn_label_vote lesson), making top-10
    // membership immune to last-bit cross-engine divergence; the output
    // is pure integers.
    QueryDef(
      "sim_matryoshka_recall",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val q = broadcast(emb.filter(col("id") < 50)
          .select(col("id").as("q_id"), col("vec").as("qvec"),
            slice(col("vec"), 1, 16).as("qpre")))
        val byFull = w.partitionBy("q_id").orderBy(col("sim_full").desc, col("c_id"))
        val byPre = w.partitionBy("q_id").orderBy(col("sim_pre").desc, col("c_id"))
        emb.filter(col("id") >= 50)
          .select(col("id").as("c_id"), col("vec").as("cvec"),
            slice(col("vec"), 1, 16).as("cpre"))
          .crossJoin(q)
          .withColumn("sim_full",
            round(Similarity.cosine(col("qvec"), col("cvec")) * lit(1e12)).cast("long"))
          .withColumn("sim_pre",
            round(Similarity.cosine(col("qpre"), col("cpre")) * lit(1e12)).cast("long"))
          .withColumn("rn_full", row_number().over(byFull))
          .withColumn("rn_pre", row_number().over(byPre))
          .filter(col("rn_full") <= 10)
          .groupBy("q_id")
          .agg(count(lit(1)).as("full_k"),
            sum(when(col("rn_pre") <= 10, 1L).otherwise(0L)).as("n_overlap"))
          .orderBy("q_id")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qvec,
              |                  embedding[1:16] AS qpre
              |           FROM embeddings WHERE vec_id < 50),
              |c AS (SELECT vec_id AS c_id, embedding AS cvec,
              |             embedding[1:16] AS cpre
              |      FROM embeddings WHERE vec_id >= 50),
              |scored AS (
              |  SELECT q_id, c_id,
              |    CAST(round(${cosineSql("qvec", "cvec")} * 1e12) AS BIGINT) AS sim_full,
              |    CAST(round(${cosineSql("qpre", "cpre")} * 1e12) AS BIGINT) AS sim_pre
              |  FROM c CROSS JOIN q),
              |ranked AS (
              |  SELECT q_id, c_id,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_full DESC, c_id) AS rn_full,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_pre DESC, c_id) AS rn_pre
              |  FROM scored)
              |SELECT q_id, CAST(count(*) AS BIGINT) AS full_k,
              |  CAST(sum(CASE WHEN rn_pre <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
              |FROM ranked WHERE rn_full <= 10
              |GROUP BY q_id ORDER BY q_id""".stripMargin)),

    // One power-iteration step toward the corpus's top principal
    // component, on the int8-QUANTIZED embeddings (the form the corpus
    // ships in at 100 TB — see embedding_int8_quantize): with v = 1⃗,
    // compute (XᵀX)·v per dimension as Σ_i q_ij · (q_i·v). Quantization
    // makes every term an exact BIGINT — the whole Gram-vector product
    // is integer arithmetic, so the cross-engine comparison is exact
    // where a float covariance would be accumulation-order-dependent.
    // Shape: one scan, per-row dot (codegen'd fold), posexplode to
    // (dim, term), map-side-combined 64-row aggregate — no shuffle wider
    // than the dimension count at any corpus size; subsequent iterations
    // broadcast the current v the same way.
    QueryDef(
      "pca_power_step_int8",
      (s, d) => {
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            array_max(transform(col("embedding"), v => abs(v.cast("double"))))
              .as("mx"))
          .filter(col("mx") > 0)
          .withColumn("scale", lit(127.0) / col("mx"))
          .select(col("vec_id"), transform(col("embedding"), v =>
            round(v.cast("double") * col("scale")).cast("long")).as("q"))
        emb
          .withColumn("dotv", aggregate(col("q"), lit(0L), (acc, x) => acc + x))
          .select(col("dotv"), posexplode(col("q")).as(Seq("dim", "qj")))
          .groupBy("dim")
          .agg(count(lit(1)).as("n_vecs"), sum(col("qj") * col("dotv")).as("gram_v"))
          .select(col("dim").cast("long").as("dim"), col("n_vecs"), col("gram_v"))
          .orderBy("dim")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, embedding,
             |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)) AS q
             |  FROM (SELECT vec_id, embedding, 127.0 / mx AS scale
             |        FROM v WHERE mx > 0)),
             |wd AS (SELECT vec_id, q, CAST(list_sum(q) AS BIGINT) AS dotv FROM q),
             |x AS (
             |  SELECT unnest(list_transform(range(0, len(q)),
             |    i -> struct_pack(dim := i, term := q[i + 1] * dotv))) AS u
             |  FROM wd)
             |SELECT CAST(u.dim AS BIGINT) AS dim, count(*) AS n_vecs,
             |  CAST(sum(u.term) AS BIGINT) AS gram_v
             |FROM x GROUP BY 1 ORDER BY dim""".stripMargin)),

    // HNSW layer-assignment plan (Malkov & Yashunin 2016): each vector
    // draws its top layer from the geometric distribution
    // floor(−ln(u)·mL), mL = 1/ln(M) with M=16 — here u is a
    // DETERMINISTIC md5-hash uniform ((h+0.5)/1e6, never 0), so the
    // index build is reproducible and incremental rebuilds assign the
    // same layers (the property a distributed builder needs before it
    // can shard the upper layers). Output: per-layer population against
    // the theoretical geometric share M^−l − M^−(l+1) — a layer whose
    // population drifts from theory signals hash bias that would
    // concentrate the entry-point layer. Per-row projection + one
    // ≤8-row aggregate; the layer plan never shuffles the vectors.
    QueryDef(
      "ann_hnsw_level_plan",
      (s, d) => {
        t(s, d, "embeddings")
          .select(PipelineQueries.hashPermille(col("vec_id"), "hnsw").as("h"))
          .select(floor(-log((col("h").cast("double") + lit(0.5)) / lit(1e6)) /
            log(lit(16.0))).cast("long").as("level"))
          .groupBy("level")
          .agg(count(lit(1)).as("n_vectors"))
          .select(col("level"), col("n_vectors"),
            round((pow(lit(16.0), -col("level").cast("double")) -
              pow(lit(16.0), -col("level").cast("double") - lit(1.0))) * lit(1e9))
              .cast("long").as("expected_share_nano"))
          .orderBy("level")
      },
      Some(s"""WITH lvl AS (
              |  SELECT CAST(floor(-ln((CAST((${PipelineQueries.hashSqlExpr("vec_id", "hnsw")})
              |      AS DOUBLE) + 0.5) / 1e6) / ln(16.0)) AS BIGINT) AS level
              |  FROM embeddings)
              |SELECT level, count(*) AS n_vectors,
              |  CAST(round((pow(16.0, -CAST(level AS DOUBLE))
              |    - pow(16.0, -CAST(level AS DOUBLE) - 1.0)) * 1e9) AS BIGINT)
              |    AS expected_share_nano
              |FROM lvl GROUP BY level ORDER BY level""".stripMargin)),

    // Graded retrieval eval: NDCG@10 and reciprocal rank per query over
    // the labeled corpus (relevance = label match) — the position-aware
    // metrics next to ann_recall_eval's set-overlap recall (recall says
    // WHETHER the relevant items were found; NDCG/MRR say how HIGH they
    // ranked, which is what re-ranker and embedding comparisons quote).
    // Discount weights round(1e9/log2(i+1)) are integers per position,
    // so DCG and the rank-capped ideal DCG are exact BIGINT sums; the
    // one division per query is identical on both engines. The ideal
    // DCG caps at min(10, corpus-relevant count) — computed from a
    // label-count aggregate joined back to the query set, never a
    // second corpus pass. Ranking reuses the tie-proof 1e12-quantized
    // cosine key. Scale: the top-10 is a WindowGroupLimit per query
    // over the broadcast-query × corpus product (the exact-eval
    // baseline, same class as sim_topk_bruteforce); everything after
    // runs on ≤10 rows per query.
    QueryDef(
      "ndcg_ann_eval",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings")
        val nrm = Similarity.l2Norm(col("embedding"))
        val q = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
            nrm.as("qnorm"), col("label").as("q_label"))
        val c = emb.filter(col("vec_id") >= 50)
          .select(col("vec_id").as("c_id"), col("embedding").as("cvec"),
            nrm.as("cnorm"), col("label").as("c_label"))
        val simQ = round(Similarity.dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm")) * lit(1e12)).cast("long")
        val byQ = w.partitionBy("q_id").orderBy(col("sim_q").desc, col("c_id"))
        // the hint goes on the cross join only: q is also the left side
        // of the idcg left outer join, which cannot build left
        val top = c.crossJoin(broadcast(q)).withColumn("sim_q", simQ)
          .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 10)
          .withColumn("rel", when(col("c_label") === col("q_label"), 1L).otherwise(0L))
          .withColumn("w_nano",
            round(lit(1e9) / log2(col("rn").cast("double") + lit(1.0))).cast("long"))
        val perQ = top.groupBy("q_id").agg(
          sum(col("rel") * col("w_nano")).as("dcg_nano"),
          sum(col("rel")).as("n_rel_top10"),
          min(when(col("rel") === 1L, col("rn"))).as("first_rel"))
        val relCorpus = c.groupBy(col("c_label").as("q_label"))
          .agg(count(lit(1)).as("n_rel_corpus"))
        val pos = s.range(1, 11).select(col("id").as("pos"),
          round(lit(1e9) / log2(col("id").cast("double") + lit(1.0))).cast("long").as("pw"))
        val idcg = q.select("q_id", "q_label")
          .join(relCorpus, Seq("q_label"), "left_outer")
          .select(col("q_id"), coalesce(col("n_rel_corpus"), lit(0L)).as("n_rel_corpus"))
          .crossJoin(broadcast(pos))
          .groupBy("q_id", "n_rel_corpus")
          .agg(coalesce(sum(when(col("pos") <= least(lit(10L), col("n_rel_corpus")),
            col("pw"))), lit(0L)).as("idcg_nano"))
        perQ.join(idcg, Seq("q_id"))
          .select(col("q_id"), col("n_rel_corpus"), col("n_rel_top10"),
            col("dcg_nano"), col("idcg_nano"),
            when(col("idcg_nano") > 0,
              col("dcg_nano").cast("double") / col("idcg_nano").cast("double"))
              .otherwise(lit(0.0)).as("ndcg_at_10"),
            coalesce(round(lit(1e9) / col("first_rel").cast("double")).cast("long"), lit(0L))
              .as("rr_nano"))
          .orderBy("q_id")
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS qvec,
              |    sqrt(${dotSql("embedding", "embedding")}) AS qnorm, label AS q_label
              |  FROM embeddings WHERE vec_id < 50),
              |c AS (
              |  SELECT vec_id AS c_id, embedding AS cvec,
              |    sqrt(${dotSql("embedding", "embedding")}) AS cnorm, label AS c_label
              |  FROM embeddings WHERE vec_id >= 50),
              |top AS (
              |  SELECT q_id, rel, rn,
              |    CAST(round(1e9 / log2(CAST(rn AS DOUBLE) + 1.0)) AS BIGINT) AS w_nano
              |  FROM (
              |    SELECT q_id, CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel,
              |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
              |        CAST(round(${dotSql("qvec", "cvec")} / (qnorm * cnorm) * 1e12)
              |             AS BIGINT) DESC, c_id) AS rn
              |    FROM c CROSS JOIN q) WHERE rn <= 10),
              |perq AS (
              |  SELECT q_id, CAST(sum(rel * w_nano) AS BIGINT) AS dcg_nano,
              |    CAST(sum(rel) AS BIGINT) AS n_rel_top10,
              |    min(CASE WHEN rel = 1 THEN rn END) AS first_rel
              |  FROM top GROUP BY 1),
              |relc AS (SELECT c_label AS q_label, CAST(count(*) AS BIGINT) AS n_rel_corpus
              |         FROM c GROUP BY 1),
              |pos AS (SELECT k AS pos,
              |    CAST(round(1e9 / log2(CAST(k AS DOUBLE) + 1.0)) AS BIGINT) AS pw
              |  FROM (SELECT unnest(range(1, 11)) AS k)),
              |idcg AS (
              |  SELECT q.q_id, coalesce(n_rel_corpus, 0) AS n_rel_corpus,
              |    CAST(coalesce(sum(CASE WHEN pos <= least(10, coalesce(n_rel_corpus, 0))
              |      THEN pw END), 0) AS BIGINT) AS idcg_nano
              |  FROM q LEFT JOIN relc USING (q_label) CROSS JOIN pos
              |  GROUP BY 1, 2)
              |SELECT perq.q_id, n_rel_corpus, n_rel_top10, dcg_nano, idcg_nano,
              |  CASE WHEN idcg_nano > 0
              |    THEN CAST(dcg_nano AS DOUBLE) / CAST(idcg_nano AS DOUBLE)
              |    ELSE 0.0 END AS ndcg_at_10,
              |  CAST(coalesce(round(1e9 / CAST(first_rel AS DOUBLE)), 0) AS BIGINT)
              |    AS rr_nano
              |FROM perq JOIN idcg ON perq.q_id = idcg.q_id
              |ORDER BY perq.q_id""".stripMargin)),


    // ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020)
    // over multi-vector documents — here each embedding's four 16-dim
    // slices stand in for per-token vectors (the fake-media convention
    // of this family): score(q, d) = Σ_{query slice} max_{doc slice}
    // cos(qs, ds) — the MaxSim sum that beats single-vector dot
    // products on fine-grained matches, and the reason late-interaction
    // indexes store per-token vectors. Two stacked aggregates implement
    // the max-then-sum exactly on 1e12-quantized integer sims (rank
    // ties by c_id), and the top-5 cut is a WindowGroupLimit. Scale:
    // slice pairs are 16 per (q, d) — a constant factor on the
    // broadcast-query scoring pass, the same class as
    // sim_topk_bruteforce; an IVF/PLAID-style candidate cut composes in
    // front unchanged.
    QueryDef(
      "colbert_maxsim_topk",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val subs = Similarity.subvectors(emb, "id", "vec", 4, 16)
          .withColumn("nrm", Similarity.l2Norm(col("sub")))
        val q = broadcast(subs.filter(col("id") < 10)
          .select(col("id").as("q_id"), col("m").as("qm"),
            col("sub").as("qs"), col("nrm").as("qn")))
        val c = subs.filter(col("id") >= 50)
          .select(col("id").as("c_id"), col("sub").as("cs"), col("nrm").as("cn"))
        val best = c.crossJoin(q)
          .select(col("q_id"), col("c_id"), col("qm"),
            round(Similarity.dot(col("qs"), col("cs")) /
              (col("qn") * col("cn")) * lit(1e12)).cast("long").as("sim"))
          .groupBy("q_id", "c_id", "qm").agg(max("sim").as("best"))
        val scored = best.groupBy("q_id", "c_id")
          .agg(sum("best").as("maxsim_scaled"))
        scored
          .withColumn("rank", row_number().over(
            w.partitionBy("q_id").orderBy(col("maxsim_scaled").desc, col("c_id"))))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("c_id"), col("maxsim_scaled"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ms AS (SELECT unnest(range(0, 4)) AS m),
              |subs AS (
              |  SELECT vec_id AS id, m, embedding[m*16+1 : m*16+16] AS sub
              |  FROM embeddings CROSS JOIN ms),
              |nn AS (SELECT id, m, sub, sqrt(${dotSql("sub", "sub")}) AS nrm FROM subs),
              |q AS (SELECT id AS q_id, m AS qm, sub AS qs, nrm AS qn
              |      FROM nn WHERE id < 10),
              |c AS (SELECT id AS c_id, sub AS cs, nrm AS cn FROM nn WHERE id >= 50),
              |best AS (
              |  SELECT q_id, c_id, qm,
              |    max(CAST(round(${dotSql("qs", "cs")} / (qn * cn) * 1e12) AS BIGINT))
              |      AS best
              |  FROM c CROSS JOIN q GROUP BY 1, 2, 3),
              |scored AS (
              |  SELECT q_id, c_id, CAST(sum(best) AS BIGINT) AS maxsim_scaled
              |  FROM best GROUP BY 1, 2)
              |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, maxsim_scaled FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY maxsim_scaled DESC, c_id) AS rank
              |  FROM scored) WHERE rank <= 5
              |ORDER BY q_id, rank""".stripMargin)),

    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    // 1998): from each query's top-10 cosine pool, select 5 results
    // sequentially maximizing λ·sim(q,c) − (1−λ)·max_{s∈selected}
    // sim(c,s), λ=0.7 — the diversity re-rank that keeps a near-dup-
    // heavy corpus from returning five copies of the same document (the
    // retrieval-side twin of SemDeDup). The greedy recurrence is
    // UNROLLED into five declarative rounds — each an anti-join
    // (remaining), a max over the pool's pairwise sims restricted to
    // the selected set, and a min(struct) argmax with c_id tie-break —
    // all on 1e12-quantized integer similarities, so selection is
    // deterministic and the oracle replays it rank for rank. Bounded
    // throughout: pool is 10/query (WindowGroupLimit), pairwise sims
    // 100/query, the five rounds touch only those rows regardless of
    // corpus size.
    QueryDef(
      "mmr_diversity_rerank",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings")
        val nrm = Similarity.l2Norm(col("embedding"))
        val q = broadcast(emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
            nrm.as("qnorm")))
        val c = emb.filter(col("vec_id") >= 50)
          .select(col("vec_id").as("c_id"), col("embedding").as("cvec"),
            nrm.as("cnorm"))
        val simQ = round(Similarity.dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm")) * lit(1e12)).cast("long")
        val byQ = w.partitionBy("q_id").orderBy(col("sq").desc, col("c_id"))
        // The five unrolled rounds each reference the pool, the pairwise
        // sims, and the growing selection — without truncation the
        // lineage re-derives the scoring crossJoin ~2^5 times (measured
        // 6.4 s at sf0.1). localCheckpoint pins the two tiny invariant
        // tables (≤ 10·|Q| and ≤ 90·|Q| rows — bounded by the pool cap,
        // not the corpus) exactly like connectedComponents pins its
        // iteration state; each round then plans against materialized
        // leaves.
        val pool = c.crossJoin(q).withColumn("sq", simQ)
          .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 10)
          .select(col("q_id"), col("c_id"), col("cvec"), col("cnorm"), col("sq"))
          // r18: repartition(1) replaces the r17 coalesce(1) — coalesce
          // folded the corpus-wide scoring crossJoin + top-10 window into
          // ONE task (the serial leg VERDICT r17 flagged); a repartition
          // keeps that stage parallel and only the ≤10·|Q|-row survivor
          // set crosses the single-partition exchange, so the pinned
          // table the per-round jobs read is still one tiny partition.
          .repartition(1)
          .localCheckpoint()
        val pairSim = pool
          .join(pool.select(col("q_id"), col("c_id").as("s_id"),
            col("cvec").as("svec"), col("cnorm").as("snorm")), Seq("q_id"))
          .filter(col("c_id") =!= col("s_id"))
          .select(col("q_id"), col("c_id"), col("s_id"),
            round(Similarity.dot(col("cvec"), col("svec")) /
              (col("cnorm") * col("snorm")) * lit(1e12)).cast("long").as("scs"))
          .repartition(1)
          .localCheckpoint()
        val base = pool.select("q_id", "c_id", "sq")
        def argmax(df: org.apache.spark.sql.DataFrame,
                   score: org.apache.spark.sql.Column) =
          df.withColumn("score", score)
            .groupBy("q_id")
            .agg(min(struct((-col("score")).as("ns"), col("c_id").as("c_id"))).as("m"))
            .select(col("q_id"), col("m.c_id").as("c_id"), (-col("m.ns")).as("score"))
        // r18 (VERDICT r17 item 3): the greedy selection is ≤ 5·|Q| rows
        // BY CONSTRUCTION (5 ranks × the 20 literal-bounded queries), so
        // it lives in a driver-local array and is re-literalized into
        // each round as a LocalRelation — the r17 form accumulated it
        // through a per-round coalesce(1).localCheckpoint(), paying a
        // synchronous single-task DataFrame job per round (§2.4, §5).
        // The literal side carries exact stats, so the per-round joins
        // broadcast it naturally; each round's Spark work is unchanged
        // (same argmax over the same pinned pool/pairSim leaves).
        import s.implicits._
        var sel = argmax(base, lit(0.7) * col("sq").cast("double"))
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), 1L))
        for (k <- 2 to 5) {
          val accK = sel.toDF("q_id", "c_id", "score", "rank")
          val remaining = base.join(accK.select("q_id", "c_id"),
            Seq("q_id", "c_id"), "left_anti")
          val ms = pairSim
            .join(accK.select(col("q_id"), col("c_id").as("s_id")), Seq("q_id", "s_id"))
            .groupBy("q_id", "c_id").agg(max("scs").as("msv"))
          val nxt = argmax(
            remaining.join(ms, Seq("q_id", "c_id"), "left_outer")
              .withColumn("msc", coalesce(col("msv"), lit(0L))),
            lit(0.7) * col("sq").cast("double") - lit(0.3) * col("msc").cast("double"))
          sel = sel ++ nxt.collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), k.toLong))
        }
        val acc = sel.toDF("q_id", "c_id", "score", "rank")
        acc.join(base, Seq("q_id", "c_id"))
          .select(col("q_id"), col("rank"), col("c_id"), col("sq"),
            round(col("score")).cast("long").as("mmr_score_scaled"))
          .orderBy("q_id", "rank")
      },
      Some {
        val simCS = s"CAST(round(${dotSql("x.cvec", "y.cvec")} / (x.cnorm * y.cnorm) * 1e12) AS BIGINT)"
        def round_(k: Int): String = {
          val selPrev = s"sel${k - 1}"
          s"""ms$k AS (
             |  SELECT p.q_id, p.c_id, max(p.scs) AS msv
             |  FROM pairsim p JOIN $selPrev s ON p.q_id = s.q_id AND p.s_id = s.c_id
             |  GROUP BY 1, 2),
             |r$k AS (
             |  SELECT q_id, c_id, score, $k AS rank FROM (
             |    SELECT b.q_id, b.c_id,
             |      0.7 * CAST(b.sq AS DOUBLE)
             |        - 0.3 * CAST(coalesce(m.msv, 0) AS DOUBLE) AS score,
             |      ROW_NUMBER() OVER (PARTITION BY b.q_id ORDER BY
             |        0.7 * CAST(b.sq AS DOUBLE)
             |          - 0.3 * CAST(coalesce(m.msv, 0) AS DOUBLE) DESC, b.c_id) AS rn
             |    FROM base b
             |    LEFT JOIN $selPrev sp ON b.q_id = sp.q_id AND b.c_id = sp.c_id
             |    LEFT JOIN ms$k m ON b.q_id = m.q_id AND b.c_id = m.c_id
             |    WHERE sp.c_id IS NULL) WHERE rn = 1),
             |sel$k AS (SELECT q_id, c_id FROM $selPrev
             |          UNION ALL SELECT q_id, c_id FROM r$k)""".stripMargin
        }
        s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qvec,
           |    sqrt(${dotSql("embedding", "embedding")}) AS qnorm
           |  FROM embeddings WHERE vec_id < 20),
           |c AS (
           |  SELECT vec_id AS c_id, embedding AS cvec,
           |    sqrt(${dotSql("embedding", "embedding")}) AS cnorm
           |  FROM embeddings WHERE vec_id >= 50),
           |pool AS (
           |  SELECT q_id, c_id, cvec, cnorm, sq FROM (
           |    SELECT q_id, c_id, cvec, cnorm,
           |      CAST(round(${dotSql("qvec", "cvec")} / (qnorm * cnorm) * 1e12)
           |           AS BIGINT) AS sq,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
           |        CAST(round(${dotSql("qvec", "cvec")} / (qnorm * cnorm) * 1e12)
           |             AS BIGINT) DESC, c_id) AS rn
           |    FROM c CROSS JOIN q) WHERE rn <= 10),
           |base AS (SELECT q_id, c_id, sq FROM pool),
           |pairsim AS (
           |  SELECT x.q_id, x.c_id, y.c_id AS s_id, $simCS AS scs
           |  FROM pool x JOIN pool y ON x.q_id = y.q_id AND x.c_id <> y.c_id),
           |r1 AS (
           |  SELECT q_id, c_id, score, 1 AS rank FROM (
           |    SELECT q_id, c_id, 0.7 * CAST(sq AS DOUBLE) AS score,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
           |        0.7 * CAST(sq AS DOUBLE) DESC, c_id) AS rn
           |    FROM base) WHERE rn = 1),
           |sel1 AS (SELECT q_id, c_id FROM r1),
           |${round_(2)},
           |${round_(3)},
           |${round_(4)},
           |${round_(5)},
           |ranks AS (
           |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
           |  UNION ALL SELECT * FROM r5)
           |SELECT ranks.q_id, CAST(rank AS BIGINT) AS rank, ranks.c_id, sq,
           |  CAST(round(score) AS BIGINT) AS mmr_score_scaled
           |FROM ranks JOIN base ON ranks.q_id = base.q_id AND ranks.c_id = base.c_id
           |ORDER BY ranks.q_id, rank""".stripMargin
      }),

    // IVF nprobe sweep — the recall/scan-cost CURVE behind the single
    // operating point ann_recall_eval pins (nprobe=1): for nprobe ∈
    // {1,2,4}, queries probe their nprobe NEAREST centroids and the
    // sweep reports recall@10 against the brute truth next to the
    // average scanned-candidate volume — the exact table an ANN
    // deployment reads to pick its latency/recall trade (recall rises
    // with nprobe, scan cost rises ~linearly; at nlist≫8 the curve is
    // the whole tuning story). Scale shape: the centroid-rank window is
    // 8 rows per query (nlist-bounded); candidates stay
    // (query × probed-bucket)-bounded; the only corpus-wide work is the
    // bucket join, identical to the production probe. Similarities are
    // 1e12-quantized BIGINTs (the ann_recall_eval discipline), so every
    // rank and the final ratios are engine-exact.
    QueryDef(
      "ann_nprobe_recall_sweep",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cents = broadcast(emb.filter(col("id") < 8)
          .select(col("id").as("centroid_id"), col("vec").as("cvec"),
            Similarity.l2Norm(col("vec")).as("cnorm")))
        def assign(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("vnorm", Similarity.l2Norm(col("vec")))
          .crossJoin(cents)
          .withColumn("csim", Similarity.dot(col("vec"), col("cvec")) /
            (col("vnorm") * col("cnorm")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("vec"), col("vnorm"), col("centroid_id")),
            struct(col("csim"), (-col("centroid_id")).as("nc"))).as("best"))
          .select(col("id"), col("best.vec").as("vec"),
            col("best.vnorm").as("vnorm"), col("best.centroid_id").as("centroid_id"))
        val q = broadcast(emb.filter(col("id") < 50)
          .withColumn("qnorm", Similarity.l2Norm(col("vec")))
          .select(col("id").as("q_id"), col("vec").as("qvec"), col("qnorm")))
        // per-query centroid ranking: 8 rows per query, nlist-bounded
        val byQc = w.partitionBy("q_id").orderBy(col("qcsim").desc, col("centroid_id"))
        val qcents = broadcast(q.crossJoin(cents)
          .withColumn("qcsim", Similarity.dot(col("qvec"), col("cvec")) /
            (col("qnorm") * col("cnorm")))
          .withColumn("crank", row_number().over(byQc))
          .filter(col("crank") <= 4)
          .select(col("q_id").as("p_qid"), col("centroid_id"), col("crank")))
        // r18: the three r17 end-of-round pins here were reverted — the
        // driver measured the pinned form ~2.6x SLOWER at the sf0.1 head
        // (0.83 -> 2.78 s box-adj; the synchronous checkpoint jobs dwarf
        // the sub-second query) and the stats-blind checkpointed leaves
        // tripped the broadcast-builds-a-checkpointed-table CI audit.
        val c = assign(emb.filter(col("id") >= 50))
          .select(col("id").as("c_id"), col("vec").as("cvec2"),
            col("vnorm").as("cnorm2"), col("centroid_id"))
        val simQ = round(Similarity.dot(col("qvec"), col("cvec2")) /
          (col("qnorm") * col("cnorm2")) * lit(1e12)).cast("long")
        val cand = c.join(qcents, Seq("centroid_id"))
          .join(q, col("p_qid") === col("q_id"))
          .withColumn("nprobe", explode(array(lit(1), lit(2), lit(4))))
          .filter(col("crank") <= col("nprobe"))
          .withColumn("sim_q", simQ)
          .select("nprobe", "q_id", "c_id", "sim_q")
        val byQn = w.partitionBy("q_id", "nprobe")
          .orderBy(col("sim_q").desc, col("c_id"))
        val approx = cand
          .withColumn("rn", row_number().over(byQn)).filter(col("rn") <= 10)
          .select("nprobe", "q_id", "c_id")
        val scanned = cand.groupBy("nprobe").agg(count(lit(1)).as("n_scanned"))
        val byQ = w.partitionBy("q_id").orderBy(col("sim_q").desc, col("c_id"))
        val brute = c.crossJoin(q).withColumn("sim_q", simQ)
          .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 10)
          .select("q_id", "c_id")
        val truthN = brute.groupBy().agg(count(lit(1)).as("n_truth"))
        approx.join(brute.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left_outer")
          .groupBy("nprobe")
          .agg(countDistinct(col("q_id")).as("n_queries"),
            sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
          .join(broadcast(truthN))
          .join(broadcast(scanned), Seq("nprobe"))
          .select(col("nprobe").cast("long").as("nprobe"), col("n_queries"),
            col("n_truth"), col("n_overlap"),
            (col("n_overlap").cast("double") / col("n_truth").cast("double"))
              .as("recall_at_10"),
            (col("n_scanned").cast("double") / col("n_queries").cast("double"))
              .as("avg_scanned"))
          .orderBy("nprobe")
      },
      Some(s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec,
              |                      sqrt(${dotSql("embedding", "embedding")}) AS cnorm
              |               FROM embeddings WHERE vec_id < 8),
              |assigned AS (
              |  SELECT id, vec, vnorm, centroid_id FROM (
              |    SELECT e.vec_id AS id, e.embedding AS vec,
              |           sqrt(${dotSql("e.embedding", "e.embedding")}) AS vnorm,
              |           centroid_id,
              |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |             ${dotSql("e.embedding", "cvec")} /
              |               (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm) DESC,
              |             centroid_id) AS rn
              |    FROM embeddings e CROSS JOIN cents) WHERE rn = 1),
              |q AS (SELECT vec_id AS q_id, embedding AS qvec,
              |             sqrt(${dotSql("embedding", "embedding")}) AS qnorm
              |      FROM embeddings WHERE vec_id < 50),
              |qcents AS (SELECT q_id AS p_qid, centroid_id, crank FROM (
              |  SELECT q_id, centroid_id,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
              |      ${dotSql("qvec", "cvec")} / (qnorm * cnorm) DESC, centroid_id)
              |      AS crank
              |  FROM q CROSS JOIN cents) WHERE crank <= 4),
              |c AS (SELECT id AS c_id, vec AS cvec2, vnorm AS cnorm2,
              |             centroid_id FROM assigned WHERE id >= 50),
              |cand AS (
              |  SELECT nprobe, q_id, c_id,
              |    CAST(round(${dotSql("qvec", "cvec2")} / (qnorm * cnorm2) * 1e12)
              |         AS BIGINT) AS sim_q
              |  FROM c JOIN qcents USING (centroid_id)
              |  JOIN q ON p_qid = q_id
              |  CROSS JOIN (SELECT unnest([1, 2, 4]) AS nprobe)
              |  WHERE crank <= nprobe),
              |approx AS (SELECT nprobe, q_id, c_id FROM (
              |  SELECT nprobe, q_id, c_id,
              |    ROW_NUMBER() OVER (PARTITION BY q_id, nprobe
              |      ORDER BY sim_q DESC, c_id) AS rn
              |  FROM cand) WHERE rn <= 10),
              |scanned AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_scanned
              |            FROM cand GROUP BY 1),
              |brute AS (SELECT q_id, c_id FROM (
              |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
              |    CAST(round(${dotSql("qvec", "cvec2")} / (qnorm * cnorm2) * 1e12)
              |         AS BIGINT) DESC, c_id) AS rn
              |  FROM c CROSS JOIN q) WHERE rn <= 10),
              |tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM brute)
              |SELECT CAST(a.nprobe AS BIGINT) AS nprobe,
              |  CAST(count(DISTINCT a.q_id) AS BIGINT) AS n_queries,
              |  max(n_truth) AS n_truth,
              |  CAST(sum(CASE WHEN b.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_overlap,
              |  CAST(sum(CASE WHEN b.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              |    / CAST(max(n_truth) AS DOUBLE) AS recall_at_10,
              |  CAST(max(n_scanned) AS DOUBLE) / CAST(count(DISTINCT a.q_id) AS DOUBLE)
              |    AS avg_scanned
              |FROM approx a
              |LEFT JOIN brute b ON a.q_id = b.q_id AND a.c_id = b.c_id
              |CROSS JOIN tn
              |JOIN scanned USING (nprobe)
              |GROUP BY a.nprobe ORDER BY nprobe""".stripMargin)),

    // One NN-Descent refinement round (Dong, Charikar & Li, WWW'11 — the
    // graph-ANN construction HNSW-class indexes descend from): start from
    // the IVF-bucket top-4 lists, symmetrize to the general-neighbor
    // relation, propose every neighbor-of-neighbor as a candidate, and
    // re-take each vector's top-4 over base ∪ proposals. The round's
    // yield — how many vectors improved and how much the mean neighbor
    // similarity rose — is THE convergence signal an NN-Descent build
    // loops on ("local join until yield ~ 0"). Scale shape: candidate
    // volume is Σ_m deg(m)² ≤ (2K)²·N — K-bounded and linear in the
    // corpus, never all-pairs; every stage is an equi join on vector ids
    // (no cartesian). Similarities are 1e12-quantized BIGINTs; the
    // per-vector sums and the improved count are exact integers, the two
    // means are single divisions.
    QueryDef(
      "nn_descent_round",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
        val cents = broadcast(emb.filter(col("id") < 8)
          .select(col("id").as("centroid_id"), col("vec").as("cvec"),
            Similarity.l2Norm(col("vec")).as("cnorm")))
        val c = emb
          .withColumn("vnorm", Similarity.l2Norm(col("vec")))
          .crossJoin(cents)
          .withColumn("csim", Similarity.dot(col("vec"), col("cvec")) /
            (col("vnorm") * col("cnorm")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("vec"), col("vnorm"), col("centroid_id")),
            struct(col("csim"), (-col("centroid_id")).as("nc"))).as("best"))
          .select(col("id"), col("best.vec").as("vec"),
            col("best.vnorm").as("vnorm"), col("best.centroid_id").as("centroid_id"))
          // the assignment table feeds va/vb on both the candidate and
          // refine legs (6 consumers) — pin one scan+argmax, not six
          // (the louvain multi-consumer rule, PLANS.md round 11)
          .localCheckpoint(false)
        val va = c.select(col("id").as("v"), col("vec").as("va"),
          col("vnorm").as("na"), col("centroid_id"))
        val vb = c.select(col("id").as("u"), col("vec").as("vb"),
          col("vnorm").as("nb"), col("centroid_id"))
        val simVU = round(Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb")) * lit(1e12)).cast("long")
        val byV = w.partitionBy("v").orderBy(col("sim_q").desc, col("u"))
        // r17: `base` (the bucket-candidate dot-product join + top-4
        // window — this query's expensive leg) had FOUR consumers (both
        // und orientations, universe, baseAgg) and `und` three; each
        // instantiation re-planned the whole join (48 exchanges in the
        // committed before-plan). Pin each once — the same
        // multi-consumer rule the assignment table above already
        // carries; both tables are ≤4 rows per vector, so the
        // materialization is id-proportional.
        val base = va.join(vb, Seq("centroid_id"))
          .filter(col("v") =!= col("u"))
          .withColumn("sim_q", simVU)
          .withColumn("rn", row_number().over(byV)).filter(col("rn") <= 4)
          .select("v", "u", "sim_q")
          .localCheckpoint(false)
        val und = base.select("v", "u")
          .unionByName(base.select(col("u").as("v"), col("v").as("u")))
          .distinct()
          .localCheckpoint(false)
        val proposals = und.select(col("v"), col("u").as("m"))
          .join(und.select(col("v").as("m"), col("u").as("u2")), Seq("m"))
          .filter(col("v") =!= col("u2"))
          .select(col("v"), col("u2").as("u")).distinct()
        val universe = base.select("v", "u").unionByName(proposals).distinct()
        val refined = universe
          .join(va.select(col("v"), col("va"), col("na")), Seq("v"))
          .join(vb.select(col("u"), col("vb"), col("nb")), Seq("u"))
          .withColumn("sim_q", simVU)
          .withColumn("rn", row_number().over(byV)).filter(col("rn") <= 4)
          .select("v", "u", "sim_q")
        val baseAgg = base.groupBy("v").agg(sum("sim_q").as("base_sum"))
        val refAgg = refined.groupBy("v").agg(sum("sim_q").as("ref_sum"))
        baseAgg.join(refAgg, Seq("v"))
          .agg(count(lit(1)).as("n_vectors"),
            sum("base_sum").as("sum_base_sim"),
            sum("ref_sum").as("sum_refined_sim"),
            sum(when(col("ref_sum") > col("base_sum"), 1L).otherwise(0L))
              .as("n_improved"))
          .withColumn("mean_gain",
            (col("sum_refined_sim") - col("sum_base_sim")).cast("double") /
              col("n_vectors").cast("double") / lit(1e12))
      },
      Some(s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec,
              |                      sqrt(${dotSql("embedding", "embedding")}) AS cnorm
              |               FROM embeddings WHERE vec_id < 8),
              |assigned AS (
              |  SELECT id, vec, vnorm, centroid_id FROM (
              |    SELECT e.vec_id AS id, e.embedding AS vec,
              |           sqrt(${dotSql("e.embedding", "e.embedding")}) AS vnorm,
              |           centroid_id,
              |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |             ${dotSql("e.embedding", "cvec")} /
              |               (sqrt(${dotSql("e.embedding", "e.embedding")}) * cnorm) DESC,
              |             centroid_id) AS rn
              |    FROM embeddings e CROSS JOIN cents) WHERE rn = 1),
              |base AS (SELECT v, u, sim_q FROM (
              |  SELECT a.id AS v, b.id AS u,
              |    CAST(round(${dotSql("a.vec", "b.vec")} / (a.vnorm * b.vnorm) * 1e12)
              |         AS BIGINT) AS sim_q,
              |    ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY
              |      CAST(round(${dotSql("a.vec", "b.vec")} / (a.vnorm * b.vnorm) * 1e12)
              |           AS BIGINT) DESC, b.id) AS rn
              |  FROM assigned a JOIN assigned b
              |    ON a.centroid_id = b.centroid_id AND a.id <> b.id)
              |  WHERE rn <= 4),
              |und AS (
              |  SELECT DISTINCT v, u FROM (
              |    SELECT v, u FROM base UNION ALL SELECT u AS v, v AS u FROM base)),
              |proposals AS (
              |  SELECT DISTINCT x.v, y.u AS u
              |  FROM und x JOIN und y ON x.u = y.v
              |  WHERE x.v <> y.u),
              |universe AS (
              |  SELECT DISTINCT v, u FROM (
              |    SELECT v, u FROM base UNION ALL SELECT v, u FROM proposals)),
              |refined AS (SELECT v, u, sim_q FROM (
              |  SELECT uv.v, uv.u,
              |    CAST(round(${dotSql("a.vec", "b.vec")} / (a.vnorm * b.vnorm) * 1e12)
              |         AS BIGINT) AS sim_q,
              |    ROW_NUMBER() OVER (PARTITION BY uv.v ORDER BY
              |      CAST(round(${dotSql("a.vec", "b.vec")} / (a.vnorm * b.vnorm) * 1e12)
              |           AS BIGINT) DESC, uv.u) AS rn
              |  FROM universe uv
              |  JOIN assigned a ON a.id = uv.v
              |  JOIN assigned b ON b.id = uv.u)
              |  WHERE rn <= 4),
              |ba AS (SELECT v, CAST(sum(sim_q) AS BIGINT) AS base_sum
              |       FROM base GROUP BY v),
              |ra AS (SELECT v, CAST(sum(sim_q) AS BIGINT) AS ref_sum
              |       FROM refined GROUP BY v)
              |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
              |  CAST(sum(base_sum) AS BIGINT) AS sum_base_sim,
              |  CAST(sum(ref_sum) AS BIGINT) AS sum_refined_sim,
              |  CAST(sum(CASE WHEN ref_sum > base_sum THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_improved,
              |  CAST(sum(ref_sum) - sum(base_sum) AS DOUBLE)
              |    / CAST(count(*) AS DOUBLE) / 1e12 AS mean_gain
              |FROM ba JOIN ra USING (v)""".stripMargin)))
}
