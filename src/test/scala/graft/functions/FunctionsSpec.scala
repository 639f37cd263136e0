package graft.functions

import graft.{GraftSession, SparkSuite}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The custom codegen expressions must be drop-in equivalent to the
  * (slower) built-in HOF formulations they replaced — checked on random
  * inputs including the edge cases (repeated/leading/trailing spaces,
  * unicode, short strings, empty arrays).
  */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  test("word_shingles == HOF formulation on random strings") {
    val wordGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("é漢"))
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    val texts = (1 to 200).flatMap(i => textGen(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("", "a", "a b", "a b c", "a  b  c", " leading", "trailing ", "  ")
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = df.select(
        GraftFunctions.wordShingles(col("text"), n).as("custom"),
        hofShingles(col("text"), n).as("hof"))
        .filter(col("custom") =!= col("hof"))
      assert(diff.count() == 0, s"n=$n: custom shingles diverge from HOF; e.g. " +
        diff.limit(1).collect().mkString)
    }
  }

  test("word_shingles is usable from SQL") {
    GraftFunctions.register(spark)
    val out = spark.sql("SELECT word_shingles('a b c d', 2) AS s").head().getSeq[String](0)
    assert(out == Seq("a b", "b c", "c d"))
  }

  test("array_dot == HOF fold bit-for-bit on random float vectors") {
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-1e3f, 1e3f))
    val rows = (1 to 200).flatMap(i => vecGen(Gen.Parameters.default, Seed(i.toLong)))
      .grouped(2).collect { case Seq(a, b) => (a.toArray, b.toArray) }.toSeq
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val diff = df.select(
      GraftFunctions.arrayDot(col("a"), col("b")).as("custom"), hofDot.as("hof"))
      .filter(col("custom") =!= col("hof")) // bitwise: NaN-free inputs
    assert(diff.count() == 0)
  }

  test("array_dot handles double arrays and empty arrays") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0)),
                 (Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val out = df.select(GraftFunctions.arrayDot(col("a"), col("b"))).as[Double].collect()
    assert(out.toSeq == Seq(11.0, 0.0))
  }

  test("array_dot rejects length mismatch with a clear error") {
    val df = Seq((Array(1.0, 2.0), Array(3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(GraftFunctions.arrayDot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("bloom_might_contain_long: no false negatives; prunes most non-members") {
    val members = (0L until 5000L).map(_ * 7919L)
    val bloom = members.toDF("h").stat.bloomFilter("h", 5000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // every member must pass (a single false negative breaks the
    // prefilter-then-exact-join pattern's exactness guarantee)
    val memberPass = members.toDF("h")
      .filter(GraftFunctions.bloomMightContainLong(bytes, col("h"))).count()
    assert(memberPass == members.size)
    // non-members (disjoint range) pass only at ~fpp; allow generous slack
    val nonMembers = (1L to 20000L).map(_ * 7919L + 3L)
    val fpCount = nonMembers.toDF("h")
      .filter(GraftFunctions.bloomMightContainLong(bytes, col("h"))).count()
    assert(fpCount < nonMembers.size / 10,
      s"bloom passed $fpCount of ${nonMembers.size} non-members — not pruning")
  }

  test("bloom_might_contain_long survives the interpreted (non-codegen) path") {
    val bloom = Seq(42L).toDF("h").stat.bloomFilter("h", 100L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = Seq(42L, 43L).toDF("h")
        .filter(GraftFunctions.bloomMightContainLong(bytes, col("h")))
        .as[Long].collect()
      assert(out.contains(42L))
    }
  }

  /** The SQL arithmetic the kernel must reproduce bit-for-bit — the same
    * formulation every DuckDB oracle replays.
    */
  private def sqlSignature(text: org.apache.spark.sql.Column, numHashes: Int, n: Int) = {
    val mod = graft.dedup.Dedup.MinhashMod
    def h(m: org.apache.spark.sql.Column, i: Int) = {
      val h1 = conv(substring(m, 1, 15), 16, 10).cast("long") % mod
      val h2 = conv(substring(m, 17, 15), 16, 10).cast("long") % mod
      (h1 + lit(i.toLong) * h2) % mod
    }
    val sh = GraftFunctions.wordShingles(text, n)
    when(size(sh) > 0, array((0 until numHashes).map { i =>
      array_min(transform(sh, s => h(md5(s), i)))
    }: _*)).otherwise(lit(null))
  }

  test("minhash_signature == md5/conv SQL formulation on random strings") {
    val wordGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("é漢"))
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    val texts = (1 to 150).flatMap(i => textGen(Gen.Parameters.default, Seed(700 + i.toLong))) ++
      Seq("", "a", "a b", "a b c", "a  b  c", "x y z x y z")
    val df = texts.toDF("text")
    for ((k, n) <- Seq((16, 3), (8, 2), (1, 1))) {
      val diff = df.select(
        GraftFunctions.minhashSignature(col("text"), k, n).as("custom"),
        sqlSignature(col("text"), k, n).as("sql"))
        .filter(not(col("custom") <=> col("sql")))
      assert(diff.count() == 0, s"k=$k n=$n: kernel diverges from SQL; e.g. " +
        diff.limit(1).collect().mkString)
    }
  }

  test("md5_permille == conv/substring/md5 Column formulation on random strings") {
    val idGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(24)), Gen.const(""),
      Gen.const("é漢#42"), Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString))
    val ids = (1 to 300).flatMap(i => idGen(Gen.Parameters.default, Seed(900 + i.toLong))) ++
      Seq("", "0", "1#2#view", "424242424242#63#purchase")
    val df = ids.toDF("id")
    for (salt <- Seq("bh", "perm", "split", "x")) {
      val legacy = conv(substring(md5(concat(lit(salt + ":"), col("id"))), 1, 15), 16, 10)
        .cast("long") % 1000000L
      val diff = df.select(
        GraftFunctions.md5Permille(col("id"), salt).as("kernel"),
        legacy.as("sql"))
        .filter(not(col("kernel") <=> col("sql")))
      assert(diff.count() == 0, s"salt=$salt: kernel diverges from the Column " +
        s"formula; e.g. ${diff.limit(1).collect().mkString}")
    }
  }

  test("md5_prefix == conv/substring/md5 Column formulation on random strings") {
    val idGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(24)), Gen.const(""),
      Gen.const("é漢#42"), Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString))
    val ids = (1 to 300).flatMap(i => idGen(Gen.Parameters.default, Seed(1100 + i.toLong))) ++
      Seq("", "0", "the quick brown", "x y", "424242424242#63#purchase")
    val df = ids.toDF("id")
    for (n <- Seq(15, 13, 1)) {
      val legacy = conv(substring(md5(col("id")), 1, n), 16, 10).cast("long")
      val diff = df.select(
        GraftFunctions.md5Prefix(col("id"), n).as("kernel"),
        legacy.as("sql"))
        .filter(not(col("kernel") <=> col("sql")))
      assert(diff.count() == 0, s"n=$n: kernel diverges from the Column " +
        s"formula; e.g. ${diff.limit(1).collect().mkString}")
    }
  }

  test("md5_prefix survives the interpreted (non-codegen) path") {
    GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = Seq("a", "b").toDF("id")
        .select(GraftFunctions.md5Prefix(col("id"), 15).as("h"))
        .collect().map(_.getLong(0))
      assert(out.forall(v => v >= 0 && v < (1L << 60)))
    }
  }

  test("md5_permille survives the interpreted (non-codegen) path") {
    GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = Seq("a", "b").toDF("id")
        .select(GraftFunctions.md5Permille(col("id"), "t").as("h"))
        .collect().map(_.getLong(0))
      assert(out.forall(v => v >= 0 && v < 1000000L))
    }
  }

  test("minhash_signature survives the interpreted (non-codegen) path") {
    GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = Seq("a b c d").toDF("text")
        .select(GraftFunctions.minhashSignature(col("text"), 4, 2).as("s"))
        .head().getSeq[Long](0)
      assert(out.size == 4 && out.forall(v => v >= 0 && v < graft.dedup.Dedup.MinhashMod))
    }
  }

  /** The explode → md5 → 60-vote-sums formulation simhash_signature
    * replaced (verbatim from the pre-kernel Dedup.simhash).
    */
  private def sqlSimhash(df: org.apache.spark.sql.DataFrame) = {
    val tokenHash = df.select(col("id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (0 until 60).map { j =>
      val nibble = conv(substring(col("h"), j / 4 + 1, 1), 16, 10).cast("long")
      sum(shiftright(nibble, j % 4).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"v$j")
    }
    val voted = tokenHash.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val packed = (0 until 60).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col("id"), packed.as("sql_simhash"))
  }

  test("simhash_signature == explode/md5/60-vote SQL formulation") {
    val wordGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("é漢"))
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    val texts = (1 to 150).flatMap(i => textGen(Gen.Parameters.default, Seed(900 + i.toLong))) ++
      Seq("", "a", "a b", "a  b", "x y z x y z", " lead", "trail ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val diff = df.select(col("id"),
        GraftFunctions.simhashSignature(col("text")).as("custom"))
      .join(sqlSimhash(df), "id")
      .filter(not(col("custom") <=> col("sql_simhash")))
    assert(diff.count() == 0, "kernel diverges from SQL formulation; e.g. " +
      diff.limit(1).collect().mkString)
  }

  test("Dedup.simhash drops NULL-text docs (matches pre-kernel explode)") {
    // The kernel expression is nullable, but Dedup.simhash must keep the
    // pre-kernel cardinality contract: explode of a NULL token array
    // emitted no row, so NULL-text documents are absent from the output.
    val df = Seq((1L, Option("a b c")), (2L, None), (3L, Option("")))
      .toDF("id", "text")
    val out = graft.dedup.Dedup.simhash(df, "id", "text")
    assert(out.count() == 2, "NULL-text doc leaked into simhash output")
    assert(out.filter(col("id") === 2L).count() == 0)
    assert(out.filter(col("simhash").isNull).count() == 0)
  }

  test("simhash_signature survives the interpreted (non-codegen) path") {
    GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val v = Seq("a b c").toDF("text")
        .select(GraftFunctions.simhashSignature(col("text")).as("s"))
        .head().getLong(0)
      assert(v >= 0 && v < (1L << 60))
    }
  }

  test("register is idempotent: a second call keeps every builder and logs no replace") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val registry = spark.sessionState.functionRegistry
    val names = Seq("word_shingles", "array_dot", "minhash_signature", "simhash_signature",
      "bloom_might_contain_long", "md5_prefix", "md5_permille")
    def builders = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    GraftFunctions.register(spark)
    val first = builders
    assert(first.forall(_.isDefined))

    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("register-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(registry.getClass.getName).asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      GraftFunctions.register(spark)
      GraftFunctions.md5Prefix(col("x"), 4) // the column helpers register too
      // positive control: a real replacement is caught by the probe
      registry.createOrReplaceTempFunction("graft_probe_fn", _ => Literal(1), "built-in")
      registry.createOrReplaceTempFunction("graft_probe_fn", _ => Literal(2), "built-in")
      registry.dropFunction(FunctionIdentifier("graft_probe_fn"))
    } finally logger.removeAppender(appender)

    names.zip(first.zip(builders)).foreach { case (n, (a, b)) =>
      assert(a.get eq b.get, s"$n was re-registered")
    }
    val replaced = logged.toArray.toSeq.map(_.toString)
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.size == 1 && replaced.head.contains("graft_probe_fn"), replaced)
  }

  test("registered SQL functions reject wrong input types at analysis time") {
    // ADVICE r14: misuse of the session-registered functions must fail
    // resolution (DATATYPE_MISMATCH), not surface as a runtime
    // ClassCastException or a Janino compile error mid-job
    GraftFunctions.register(spark)
    Seq((1L, Array(0.5f, 0.25f))).toDF("n", "vec")
      .createOrReplaceTempView("typed_probe")
    for (q <- Seq(
        "SELECT md5_permille(n, 's') FROM typed_probe",
        "SELECT md5_prefix(n, 15) FROM typed_probe",
        "SELECT word_shingles(n, 3) FROM typed_probe",
        "SELECT simhash_signature(n) FROM typed_probe",
        "SELECT minhash_signature(n, 4, 2) FROM typed_probe",
        "SELECT array_dot(n, vec) FROM typed_probe",
        "SELECT array_dot(vec, array('a')) FROM typed_probe")) {
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(q))
    }
  }
}
