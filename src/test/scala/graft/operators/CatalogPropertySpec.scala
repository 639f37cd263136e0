package graft.operators

import graft.{SparkEntry, SparkSuite}

import org.apache.spark.sql.functions._
import scala.util.Random

/** Property checks that run CATALOG queries (through `SparkEntry.queries`,
  * i.e. the exact code the driver checks) against brute-force definitions
  * on randomized synthetic lakes — evidence the fixed-testdata oracle
  * can't give: recall/exactness holds on corpora we didn't tune for.
  */
class CatalogPropertySpec extends SparkSuite {
  import spark.implicits._

  test("every bench query is either 10×-smoked or documented smoke-exempt " +
      "(and both registries hold only live catalog names)") {
    // r8 verdict task #8: with 300+ rows, an unsmoked heavy query is a
    // silent scale risk. The partition forces every new bench=true query
    // to take a smoke slot or join the documented exemption set.
    val bench = SparkEntry.all.filter(_.bench).map(_.name).toSet
    val smoked = graft.ScaleSmoke.smokeQueries.toSet
    val exempt = graft.ScaleSmoke.smokeExempt
    val uncovered = bench -- smoked -- exempt
    assert(uncovered.isEmpty,
      s"bench queries neither smoked nor documented exempt: " +
        s"${uncovered.toSeq.sorted.mkString(", ")}")
    val staleSmoke = smoked -- bench
    assert(staleSmoke.isEmpty,
      s"smoke entries naming no live bench query: ${staleSmoke.mkString(", ")}")
    val staleExempt = exempt -- bench
    assert(staleExempt.isEmpty,
      s"exempt entries naming no live bench query: ${staleExempt.mkString(", ")}")
    val both = smoked.intersect(exempt)
    assert(both.isEmpty,
      s"queries cannot be both smoked and exempt: ${both.mkString(", ")}")
    // the skew gate's probe registry must also hold only live catalog
    // names (a renamed query would otherwise crash the Bench tail)
    val staleProbes = graft.SkewStress.probes.toSet -- SparkEntry.all.map(_.name).toSet
    assert(staleProbes.isEmpty,
      s"SkewStress probes naming no live catalog query: ${staleProbes.mkString(", ")}")
    assert(graft.SkewStress.probes.distinct.size == graft.SkewStress.probes.size,
      "duplicate SkewStress probes would double-run and double-report")
    // the box-factor canaries must stay BENCHED catalog queries — a
    // rename/de-bench would silently shrink the canary set the drift
    // adjudication rests on (VERDICT r15 task #4)
    val staleCanaries = graft.Bench.CanaryRef.map(_._1).toSet -- bench
    assert(staleCanaries.isEmpty,
      s"Bench canaries naming no live bench query: ${staleCanaries.mkString(", ")}")
  }

  /** Write a one-table lake under a temp dir and return the dir. */
  private def lake(table: String)(write: String => Unit): String = {
    val dir = SparkSuite.scratchDir("graft-prop")
    write(s"$dir/$table.parquet")
    dir
  }

  test("dedup_containment == brute-force containment on a random corpus " +
      "with planted subsets (recall 1)") {
    val rnd = new Random(20260813L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0L until 40L).map(i => (i, doc(8 + rnd.nextInt(10))))
    // planted containments: the base text plus a couple of extra words —
    // the base's shingle set is (nearly) contained in the extension's
    val planted = bases.take(12).map { case (i, t) =>
      (100L + i, s"$t ${doc(2)}")
    }
    val docs = (bases ++ planted).toDF("doc_id", "text")
    val dir = lake("documents") { p => docs.write.parquet(p) }

    val got = SparkEntry.queries("dedup_containment")(spark, dir)
      .select("doc_id_sub", "doc_id_super").as[(Long, Long)].collect().toSet

    val sets = docs.select(col("doc_id"),
      graft.dedup.Dedup.shingleSet(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sets.toDF("ida", "sa").crossJoin(sets.toDF("idb", "sb"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).as("ov"), size(col("sa")).as("sza"))
      .filter(col("ov") * 5 >= col("sza") * 4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet

    assert(brute.nonEmpty, "fixture must contain containment pairs")
    assert(got == brute,
      s"prefix-filtered containment diverges from brute force: " +
        s"missed=${brute -- got} extra=${got -- brute}")
  }

  test("simjoin_prefix_filter == brute-force Jaccard join on a random corpus " +
      "with planted near-dups (recall 1)") {
    val rnd = new Random(7L)
    val vocab = Vector("red", "blue", "green", "dark", "light", "deep",
      "pale", "warm", "cool", "soft", "hard", "wide", "thin", "tall")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0L until 35L).map(i => (i, doc(10 + rnd.nextInt(8))))
    // planted near-dups: swap one word — Jaccard on 3-shingles stays high
    val planted = bases.take(10).map { case (i, t) =>
      val w = t.split(" ")
      w(w.length / 2) = vocab(rnd.nextInt(vocab.size))
      (200L + i, w.mkString(" "))
    }
    val docs = (bases ++ planted).toDF("doc_id", "text")
    val dir = lake("documents") { p => docs.write.parquet(p) }

    val got = SparkEntry.queries("simjoin_prefix_filter")(spark, dir)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet

    val sets = docs.select(col("doc_id"),
      graft.dedup.Dedup.shingleSet(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sets.toDF("ida", "sa").crossJoin(sets.toDF("idb", "sb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).as("ov"),
        size(array_union(col("sa"), col("sb"))).as("un"))
      .filter(col("ov") * 5 >= col("un") * 3)
      .select("ida", "idb").as[(Long, Long)].collect().toSet

    assert(brute.nonEmpty, "fixture must contain J >= 3/5 pairs")
    assert(got == brute,
      s"prefix-filtered Jaccard join diverges from brute force: " +
        s"missed=${brute -- got} extra=${got -- brute}")
  }

  test("eval_auc_ranksum == brute-force pairwise AUC on random scores") {
    val rnd = new Random(42L)
    // duplicate-heavy score domain so average-rank tie handling is exercised
    val rows = (1 to 400).map { _ =>
      val pos = rnd.nextBoolean()
      val score = (rnd.nextInt(30) + (if (pos) 3 else 0)).toDouble / 7.0
      (if (pos) "purchase" else "view", score)
    }
    val dir = lake("events") { p =>
      rows.toDF("event_type", "value").write.parquet(p)
    }
    val row = SparkEntry.queries("eval_auc_ranksum")(spark, dir).head()
    val (numQ, denQ) = (row.getAs[Long]("auc_num"), row.getAs[Long]("auc_den"))

    val pos = rows.collect { case ("purchase", s) => s }
    val neg = rows.collect { case ("view", s) => s }
    val gt = pos.map(p => neg.count(p > _).toLong).sum
    val eq = pos.map(p => neg.count(p == _).toLong).sum
    assert(eq > 0, "fixture must contain cross-class score ties")
    assert(numQ == 2 * gt + eq && denQ == 2L * pos.size * neg.size,
      s"rank-sum AUC ($numQ/$denQ) != pairwise definition " +
        s"(${2 * gt + eq}/${2L * pos.size * neg.size})")
  }

  test("weighted_median_price == expand-and-index weighted median on random lines") {
    val rnd = new Random(20260814L)
    // duplicate prices + weights ≥ 1 so the cumulative-crossing tie logic
    // (lower weighted median) is exercised, not just distinct-value sorts
    val rows = (1 to 500).map { i =>
      (1L + rnd.nextInt(7), // l_suppkey
        (900 + rnd.nextInt(40)).toDouble, // l_extendedprice, heavy ties
        (i / 3).toLong, i % 3, // l_orderkey, l_linenumber
        (1 + rnd.nextInt(5)).toDouble) // l_quantity
    }
    val dir = lake("lineitem") { p =>
      rows.toDF("l_suppkey", "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_quantity").write.parquet(p)
    }
    val got = SparkEntry.queries("weighted_median_price")(spark, dir)
      .select("l_suppkey", "weighted_median_price", "total_weight")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val want = rows.groupBy(_._1).map { case (k, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3, r._4))
      val total = sorted.map(_._5.toLong).sum
      var cum = 0L
      val med = sorted.find { r => cum += r._5.toLong; 2 * cum >= total }.get._2
      k -> ((med, total))
    }
    assert(got == want, s"weighted medians diverge: got $got want $want")
  }

  test("pareto_frontier_parts == quadratic dominance filter on random parts") {
    val rnd = new Random(7L)
    // small discrete domains force price ties and equal-size boundary cases
    val parts = (1L to 300L).map { id =>
      (id, (900 + rnd.nextInt(25)).toDouble, 1 + rnd.nextInt(12))
    }
    val dir = lake("part") { p =>
      parts.toDF("p_partkey", "p_retailprice", "p_size").write.parquet(p)
    }
    val got = SparkEntry.queries("pareto_frontier_parts")(spark, dir)
      .select("p_partkey").as[Long].collect().toSet
    val want = parts.filter { case (_, price, size) =>
      !parts.exists { case (_, p2, s2) => p2 < price && s2 > size }
    }.map(_._1).toSet
    assert(got == want,
      s"skyline diverges: extra=${got -- want} missing=${want -- got}")
  }

  test("interval_union_coverage == day-set union on random order dates") {
    val rnd = new Random(99L)
    val base = java.time.LocalDate.of(1995, 1, 1)
    val rows = (1 to 200).map { _ =>
      (1L + rnd.nextInt(6),
        java.sql.Timestamp.valueOf(
          base.plusDays(rnd.nextInt(120)).atStartOfDay()))
    }
    val dir = lake("orders") { p =>
      rows.toDF("o_custkey", "o_orderdate").write.parquet(p)
    }
    val got = SparkEntry.queries("interval_union_coverage")(spark, dir)
      .select("o_custkey", "covered_days", "n_islands")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val want = rows.groupBy(_._1).map { case (k, rs) =>
      val days: Set[java.time.LocalDate] = rs.flatMap { r =>
        val d0 = r._2.toLocalDateTime.toLocalDate
        (0 until 30).map(i => d0.plusDays(i.toLong))
      }.toSet
      val islands = days.count(d => !days.contains(d.minusDays(1)))
      k -> ((days.size.toLong, islands.toLong))
    }
    assert(got == want, s"coverage diverges: got $got want $want")
  }

  test("rfm_segmentation's decomposed quintiles == Spark's own ntile(5) " +
      "windows on a random orders lake") {
    // r9: the three global ntile windows were replaced by bounded-bin
    // rank decompositions; this pins the NTILE arithmetic (first n%5
    // tiles get one extra row) against the engine's reference
    // implementation on data with heavy date/count/revenue ties.
    val rnd = new Random(20260814L)
    val base = java.sql.Date.valueOf("1996-01-01")
    val rows = (1 to 600).map { i =>
      (1L + rnd.nextInt(97), // o_custkey — collisions force count ties
        new java.sql.Date(base.getTime + rnd.nextInt(40) * 86400000L),
        (1000 + rnd.nextInt(50)).toDouble, i.toLong)
    }
    val dir = lake("orders") { p =>
      rows.toDF("o_custkey", "o_orderdate", "o_totalprice", "o_orderkey")
        .write.parquet(p)
    }
    val got = SparkEntry.queries("rfm_segmentation")(spark, dir)
      .select("o_custkey", "r", "f", "m")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap

    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val agg = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy("o_custkey").agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("monetary_d"))
    val want = agg
      .withColumn("r", ntile(5).over(
        Window.orderBy(col("last_order").desc, col("o_custkey"))).cast("long"))
      .withColumn("f", ntile(5).over(
        Window.orderBy(col("n_orders").desc, col("o_custkey"))).cast("long"))
      .withColumn("m", ntile(5).over(
        Window.orderBy(col("monetary_d").desc, col("o_custkey"))).cast("long"))
      .select("o_custkey", "r", "f", "m")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got == want, {
      val bad = want.keySet.filter(k => got(k) != want(k)).take(5)
      s"decomposed quintiles diverge from ntile on ${bad.map(k => (k, got(k), want(k)))}"
    })
  }

  test("equidepth_histogram's decomposed buckets == direct NTILE(10) on " +
      "random prices") {
    val rnd = new Random(5L)
    val rows = (1 to 700).map { i =>
      ((900 + rnd.nextInt(80)).toDouble + rnd.nextInt(100) / 100.0, i.toLong)
    }
    val dir = lake("lineitem") { p =>
      rows.toDF("l_extendedprice", "l_orderkey").write.parquet(p)
    }
    val got = SparkEntry.queries("equidepth_histogram")(spark, dir)
      .select("bucket", "n_rows", "lo", "hi")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)

    import org.apache.spark.sql.expressions.Window
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_extendedprice"))
      .withColumn("bucket",
        ntile(10).over(Window.orderBy("l_extendedprice")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"))
      .select("bucket", "n_rows", "lo", "hi")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.sameElements(want),
      s"decomposed equi-depth diverges: got ${got.toSeq} want ${want.toSeq}")
  }

  test("dedup_containment_bounded == brute-force capped containment on a " +
      "random corpus with planted subsets") {
    val rnd = new Random(77L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0L until 40L).map(i => (i, doc(8 + rnd.nextInt(10))))
    val planted = bases.take(12).map { case (i, t) => (100L + i, s"$t ${doc(2)}") }
    // an oversize super: the base fully contained but |B| > 4|A| — the
    // bounded variant must EXCLUDE it while brute-with-cap agrees
    val oversize = bases.take(3).map { case (i, t) => (300L + i, s"$t ${doc(60)}") }
    val docs = (bases ++ planted ++ oversize).toDF("doc_id", "text")
    val dir = lake("documents") { p => docs.write.parquet(p) }

    val got = SparkEntry.queries("dedup_containment_bounded")(spark, dir)
      .select("doc_id_sub", "doc_id_super").as[(Long, Long)].collect().toSet

    val sets = docs.select(col("doc_id"),
      graft.dedup.Dedup.shingleSet(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sets.toDF("ida", "sa").crossJoin(sets.toDF("idb", "sb"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).as("ov"),
        size(col("sa")).as("sza"), size(col("sb")).as("szb"))
      .filter(col("ov") * 5 >= col("sza") * 4 && col("szb") <= col("sza") * 4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet

    assert(brute.nonEmpty, "fixture must contain capped containment pairs")
    val uncapped = sets.toDF("ida", "sa").crossJoin(sets.toDF("idb", "sb"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).as("ov"),
        size(col("sa")).as("sza"), size(col("sb")).as("szb"))
      .filter(col("ov") * 5 >= col("sza") * 4 && col("szb") > col("sza") * 4)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(uncapped.nonEmpty, "fixture must contain an oversize super the cap excludes")
    assert(got == brute,
      s"bounded containment diverges from brute-with-cap: " +
        s"missed=${brute -- got} extra=${got -- brute}")
  }

  test("contrastive_negative_sample's bucketed hash-order leads == the " +
      "naive single global lead window on a random corpus") {
    val rnd = new Random(13L)
    val vocab = Vector("red", "blue", "green", "dark", "light", "deep")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0L until 120L).map(i => (i, doc(12))).toDF("doc_id", "text")
    val dir = lake("documents") { p => docs.write.parquet(p) }

    val got = SparkEntry.queries("contrastive_negative_sample")(spark, dir)
      .select("doc_id", "neg_id", "rk").as[(Long, Long, Long)].collect().toSet

    // naive reference: ONE global lead window over the md5 hash order,
    // then the same closure-exclusion and top-5 cap
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.dedup.Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.2)
    val comp = graft.dedup.Dedup.connectedComponents(docs, "doc_id", pairs,
      "doc_id_a", "doc_id_b")
    val w = Window.orderBy("h")
    val wRank = Window.partitionBy("doc_id").orderBy("slot")
    val want = docs
      .select(col("doc_id"),
        md5(concat(lit("neg:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("negs",
        array((1 to 7).map(k => lead(col("doc_id"), k).over(w)): _*))
      .select(col("doc_id"), posexplode(col("negs")).as(Seq("slot", "neg_id")))
      .filter(col("neg_id").isNotNull)
      .join(comp.select(col("doc_id"), col("component_id").as("comp_a")), "doc_id")
      .join(comp.select(col("doc_id").as("neg_id"),
        col("component_id").as("comp_b")), "neg_id")
      .filter(col("comp_a") =!= col("comp_b"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("neg_id"), col("rk").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"bucketed negative sampling diverges from the global-window " +
        s"reference: missed=${want -- got} extra=${got -- want}")
  }

  test("theil_sen_slope == in-memory median of pairwise slopes") {
    val rnd = new Random(3L)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 300).map { i =>
      (new java.sql.Timestamp(t0.getTime + rnd.nextInt(25) * 86400000L +
        rnd.nextInt(86400000)), i.toLong)
    }
    val dir = lake("events") { p => rows.toDF("ts", "event_id").write.parquet(p) }
    val row = SparkEntry.queries("theil_sen_slope")(spark, dir).head()

    val daily = rows.groupBy(r =>
        r._1.toLocalDateTime.toLocalDate.toEpochDay)
      .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val pairs = for {
      (d1, c1) <- daily; (d2, c2) <- daily if d1 < d2
    } yield (c2 - c1, d2 - d1, (c2 - c1).toDouble / (d2 - d1).toDouble)
    val sorted = pairs.sortBy(p => (p._3, p._1, p._2))
    val med = sorted((sorted.size + 1) / 2 - 1)
    assert(row.getAs[Long]("n_pairs") == pairs.size.toLong)
    assert(row.getAs[Long]("med_rise") == med._1 &&
      row.getAs[Long]("med_run") == med._2,
      s"median pair diverges: got (${row.getAs[Long]("med_rise")}, " +
        s"${row.getAs[Long]("med_run")}) want (${med._1}, ${med._2})")
  }

  test("anti_entropy_bucket_diff accounts for every withheld row on a " +
      "random lake (no silent drift)") {
    val rnd = new Random(2026L)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 800).map { i =>
      (i.toLong, 1L + rnd.nextInt(50),
        new java.sql.Timestamp(t0.getTime + rnd.nextInt(86400000)),
        Seq("view", "purchase", "click")(rnd.nextInt(3)),
        (rnd.nextInt(10000) / 100.0))
    }
    val dir = lake("events") { p =>
      rows.toDF("event_id", "user_id", "ts", "event_type", "value")
        .write.parquet(p)
    }
    val out = SparkEntry.queries("anti_entropy_bucket_diff")(spark, dir)
      .select("n_missing").as[Long].collect()
    val withheld = rows.count(_._1 % 97 == 0).toLong
    assert(withheld > 0)
    assert(out.sum == withheld,
      s"bucket drill-down must account for all ${withheld} withheld rows, " +
        s"found ${out.sum}")
  }

  test("ipf_raking_step's column step leaves source marginals uniform " +
      "(the IPF invariant, up to per-cell rounding)") {
    // After the column scaling, every source's weight mass must equal
    // total/n_source exactly up to the nano-quantization of each cell
    // (≤ 0.5 nano per cell) — this is the property the iteration exists
    // to enforce, checked on the catalog query's own output.
    val rows = SparkEntry.queries("ipf_raking_step")(spark, "/root/testdata/sf0.001")
      .select("source", "w2_nano").as[(String, Long)].collect()
    val bySrc = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = SparkEntry.queries("ipf_raking_step")(spark, "/root/testdata/sf0.001")
      .agg(sum(col("n"))).as[Long].head()
    val nSource = bySrc.size
    val target = total * 1000000000.0 / nSource
    val maxCells = rows.length
    bySrc.foreach { case (src, w) =>
      assert(math.abs(w - target) <= maxCells.toDouble,
        s"source $src marginal ${w} deviates from uniform target $target " +
          s"beyond rounding tolerance $maxCells nanos")
    }
  }

  test("als_user_factor_step == in-memory per-user ridge solve with the " +
      "same quantization on a random lake") {
    val rnd = new Random(88L)
    val orders = (1 to 200).map(i => (i.toLong, 1L + rnd.nextInt(30)))
    val lines = orders.flatMap { case (ok, _) =>
      (0 until 1 + rnd.nextInt(4)).map(j =>
        (ok, 1L + rnd.nextInt(40), (1 + rnd.nextInt(50)).toDouble))
    }
    val dir = SparkSuite.scratchDir("graft-als")
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")

    val got = SparkEntry.queries("als_user_factor_step")(spark, dir)
      .select("o_custkey", "theta1", "theta2")
      .as[(Long, Double, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap

    def permille(s0: String, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$s0".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val custOf = orders.toMap
    val want = lines.groupBy(l => custOf(l._1)).map { case (u, ls) =>
      var (a11, a12, a22, b1, b2) = (100000000L, 0L, 100000000L, 0L, 0L)
      // accumulation order must not matter: terms are pre-quantized longs
      ls.foreach { case (_, item, r) =>
        val v1 = permille(item.toString, "alsv1").toDouble / 1e6
        val v2 = permille(item.toString, "alsv2").toDouble / 1e6
        a11 += math.round(v1 * v1 * 1e9); a12 += math.round(v1 * v2 * 1e9)
        a22 += math.round(v2 * v2 * 1e9)
        b1 += math.round(v1 * r * 1e9); b2 += math.round(v2 * r * 1e9)
      }
      // a22 seeded with lambda above; a11 too
      val det = a11.toDouble * a22.toDouble - a12.toDouble * a12.toDouble
      u -> ((
        (a22.toDouble * b1.toDouble - a12.toDouble * b2.toDouble) / det,
        (a11.toDouble * b2.toDouble - a12.toDouble * b1.toDouble) / det))
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (t1, t2)) =>
      val (w1, w2) = want(u)
      assert(t1 == w1 && t2 == w2,
        s"user $u factors diverge: got ($t1,$t2) want ($w1,$w2)")
    }
  }
}
