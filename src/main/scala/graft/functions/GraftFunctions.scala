package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{call_function, lit}

/** Registration point for graft's custom Catalyst expressions.
  *
  * Spark 4 removed the public Column(Expression) constructor, so custom
  * expressions enter plans through the session FunctionRegistry +
  * `call_function` — which also makes them available to SQL users
  * (`SELECT word_shingles(text, 3) FROM docs`).
  */
object GraftFunctions {

  /** Name → builder for every graft function. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "word_shingles" -> {
      case Seq(text, n) => WordShingles(text, intLiteral(n, "word_shingles(text, n)"))
      case other => throw new IllegalArgumentException(
        s"word_shingles(text, n) takes 2 arguments, got ${other.size}")
    },
    "array_dot" -> {
      case Seq(a, b) => ArrayDot(a, b)
      case other => throw new IllegalArgumentException(
        s"array_dot(a, b) takes 2 arguments, got ${other.size}")
    },
    "minhash_signature" -> {
      case Seq(text, k, n) => MinhashSignature(text,
        intLiteral(k, "minhash_signature(text, numHashes, n)"),
        intLiteral(n, "minhash_signature(text, numHashes, n)"))
      case other => throw new IllegalArgumentException(
        s"minhash_signature(text, numHashes, n) takes 3 arguments, got ${other.size}")
    },
    "simhash_signature" -> {
      case Seq(text) => SimhashSignature(text)
      case other => throw new IllegalArgumentException(
        s"simhash_signature(text) takes 1 argument, got ${other.size}")
    },
    "bloom_might_contain_long" -> {
      case Seq(f, v) => BloomMightContainLong(f, v)
      case other => throw new IllegalArgumentException(
        s"bloom_might_contain_long(filter, value) takes 2 arguments, got ${other.size}")
    },
    "md5_prefix" -> {
      case Seq(s, n) => Md5Prefix(s, intLiteral(n, "md5_prefix(s, n)"))
      case other => throw new IllegalArgumentException(
        s"md5_prefix(s, n) takes 2 arguments, got ${other.size}")
    },
    "md5_permille" -> {
      case Seq(id, salt) => Md5Permille(id,
        stringLiteral(salt, "md5_permille(id, salt)"))
      case other => throw new IllegalArgumentException(
        s"md5_permille(id, salt) takes 2 arguments, got ${other.size}")
    })

  /** Register every graft function that `spark`'s registry lacks.
    * Idempotent: a registered function is left as it is, so repeat calls
    * (every column helper makes one) neither replace it nor log Spark's
    * "replaced a previously registered function" WARN.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private def intLiteral(e: Expression, ctx: String): Int = e match {
    case Literal(v: Int, _) => v
    case other if other.foldable => other.eval().asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(s"$ctx: n must be a literal")
  }

  private def stringLiteral(e: Expression, ctx: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other if other.foldable => other.eval().toString
    case _ => throw new IllegalArgumentException(s"$ctx: salt must be a literal")
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def wordShingles(text: Column, n: Int): Column = {
    register(SparkSession.active)
    call_function("word_shingles", text, lit(n))
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def arrayDot(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("array_dot", a, b)
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def minhashSignature(text: Column, numHashes: Int, n: Int): Column = {
    register(SparkSession.active)
    call_function("minhash_signature", text, lit(numHashes), lit(n))
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def simhashSignature(text: Column): Column = {
    register(SparkSession.active)
    call_function("simhash_signature", text)
  }

  /** Column-API wrapper; auto-registers in the active session.
    * `filterBytes` is a serialized spark-sketch BloomFilter (see
    * [[BloomMightContainLong]]); `v` a LONG hash column to probe.
    */
  def bloomMightContainLong(filterBytes: Array[Byte], v: Column): Column = {
    register(SparkSession.active)
    call_function("bloom_might_contain_long", lit(filterBytes), v)
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def md5Prefix(s: Column, nHex: Int): Column = {
    register(SparkSession.active)
    call_function("md5_prefix", s, lit(nHex))
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def md5Permille(id: Column, salt: String): Column = {
    register(SparkSession.active)
    call_function("md5_permille", id, lit(salt))
  }
}
