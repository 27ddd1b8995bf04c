package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftbridge.Bridge
import graft.expr.{CosineSimilarity, DotProduct, GramPayload, GramWalk}

/** GraftExtensions: the injected cosine_sim must resolve and evaluate in
  * plain SQL. Extensions bind at session build, so the live-session path
  * goes through Bridge.registerFunction (same builder). */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects cosine_sim and dot_product into the function registry") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val names = Bridge.injectedFunctionNames(ext)
    assert(names.contains("cosine_sim") && names.contains("dot_product") &&
      names.contains("token_gram_hashes"))
  }

  test("cosine_sim evaluates from SQL on a live session") {
    Bridge.registerFunction(spark, "cosine_sim", args => CosineSimilarity(args.head, args(1)))
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)) AS c").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    val r2 = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.0d, 5.0d)) AS c").head()
    assert(math.abs(r2.getDouble(0)) < 1e-12)
  }

  test("token_gram_hashes evaluates from SQL on a live session") {
    Bridge.registerFunction(spark, "token_gram_hashes", args => {
      val k = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(s"k must be literal, got $other")
      }
      GramWalk(args.head, GramPayload.Fnv64(k))
    })
    val r = spark.sql(
      "SELECT size(token_gram_hashes(array('a','b','c','d'), 2)) AS n").head()
    assert(r.getInt(0) == 3)
    val short = spark.sql(
      "SELECT size(token_gram_hashes(array('a'), 2)) AS n").head()
    assert(short.getInt(0) == 0)
  }

  test("GraftExtensions.register attaches all functions to a live session, idempotently") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark) // second call must not throw or duplicate
    val r = spark.sql(
      """SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c,
        |dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |size(token_gram_hashes(array('a','b','c'), 2)) AS n""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 11.0) < 1e-12)
    assert(r.getInt(2) == 2)
  }

  test("dot_product evaluates from SQL on a live session") {
    Bridge.registerFunction(spark, "dot_product", args => DotProduct(args.head, args(1)))
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d").head()
    assert(math.abs(r.getDouble(0) - 32.0) < 1e-12)
  }
}
