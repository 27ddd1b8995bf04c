package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.expr.GramWalk.grams
import graft.expr.GramPayload.{Fnv64, Joined, KarpRabin, Tuple}

/** The native expressions of `graft.expr`. Each [[graft.expr.GramWalk]]
  * payload is checked three ways on one hostile input battery: whole-stage
  * codegen, fully interpreted evaluation, and the plain-Scala
  * slice-and-join reference in [[GramRef]]. */
class TokenGramExprSpec extends SparkSpec {
  import spark.implicits._

  /** The battery: random rows over a pool with emoji (surrogate pairs, a
    * skin-tone modifier, a flag), combining marks, multi-byte and
    * space-bearing tokens, empty tokens and null elements; then fixed
    * rows — empty tokens at both edges and in the middle, all-null, one
    * token (every order > 1 exceeds its length), the empty array, and a
    * 10,000-token array. */
  private val battery: Seq[(Long, Seq[String])] = {
    val pool = Vector("a", "bc", "héllo", "wörld", "𝔘ni", "😀", "👍🏽", "🇺🇳",
      "e\u0301", "n\u0303o", "", null, "x1", "..", "longer-token", "a b")
    val rng = new scala.util.Random(7)
    val random = (0 until 80).map { i =>
      (i.toLong, (0 until rng.nextInt(10)).map(_ => pool(rng.nextInt(pool.length))))
    }
    val long = (0 until 10000).map(i => pool(i % pool.length))
    random ++ Seq(
      100L -> Seq("", "a", "", "b", ""),
      101L -> Seq("", ""),
      102L -> Seq[String](null, null),
      103L -> Seq("", null, "a", ""),
      104L -> Seq("solo"),
      105L -> Seq.empty[String],
      106L -> long)
  }

  /** The battery with a null array row, on an RDD-backed frame (a local
    * relation would be evaluated on the driver at plan time). */
  private def batteryDf: DataFrame =
    spark.sparkContext.parallelize(battery :+ (107L -> (null: Seq[String])), 3)
      .toDF("id", "toks")

  /** Runs `f` with whole-stage codegen and codegen-only projections (a
    * compile failure throws instead of falling back), then fully
    * interpreted; both must agree. */
  private def bothModes[T](f: => T): T = {
    def withConf(kv: (String, String)*)(body: => T): T = {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val cg = withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(f)
    val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)
    assert(cg == interp, "interpreted != codegen")
    cg
  }

  /** Collects `grams(toks, payload)` per id; a null array stays null. */
  private def walk[T](payload: graft.expr.GramPayload)(read: Row => T): Map[Long, T] =
    bothModes {
      batteryDf.select($"id", grams($"toks", payload).as("g")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null.asInstanceOf[T] else read(r))).toMap
    }

  test("expression equals the reference kernel, codegen and interpreted") {
    // Fnv64: empty tokens are hashed like any token (a whitespace-only
    // doc tokenizes to [""], which the KN/SB/repetitionStats keys hash at
    // k = 1); a null element is zero bytes plus the separator
    for (k <- Seq(1, 2, 3, 5)) {
      val got = walk(Fnv64(k))(_.getSeq[Long](1))
      battery.foreach { case (id, toks) =>
        assert(got(id) == GramRef.gramKeys(toks, k), s"k=$k id=$id")
      }
      assert(got(107L) == null)
    }
  }

  test("unicode tokens hash by UTF-8 bytes; boundaries stay distinct") {
    val df = Seq(
      (1L, Seq("héllo", "wörld")),      // multi-byte
      (2L, Seq("ab", "c")),
      (3L, Seq("a", "bc")),
      (4L, Seq("😀", "e\u0301"))        // surrogate pair, combining mark
    ).toDF("id", "toks")
    val out = df.select($"id", grams($"toks", Fnv64(2)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == GramRef.gramKeys(Seq("héllo", "wörld"), 2))
    assert(out(4L) == GramRef.gramKeys(Seq("😀", "e\u0301"), 2))
    assert(out(2L) != out(3L), "token-boundary shift must change the gram hash")
  }

  test("short arrays emit empty, never null; null input stays null") {
    val df = Seq((1L, Seq("only")), (2L, Seq.empty[String]))
      .toDF("id", "toks")
      .union(Seq((3L, null)).toDF("id", "toks"))
    for (p <- Seq(Fnv64(2), KarpRabin(2), Joined(2, 3))) {
      val out = df.select($"id", size(grams($"toks", p)).as("n")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(out(1L).contains(if (p == KarpRabin(2)) 1 else 0) && out(2L).contains(0), s"$p")
      assert(out(3L).isEmpty, s"$p")
    }
    val t = df.select($"id", grams($"toks", Tuple(3)).as("t")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Seq[String]](1))).toMap
    assert(t(1L) == Seq(Seq("only", null, null)) && t(2L) == Seq.empty && t(3L) == null)
  }

  test("SimHashReplayWord equals the Catalyst expression form it replaced") {
    // the retired 64-subexpression tree, reconstructed verbatim: kr in its
    // own projection, per-bit top-half tests of (kr * A_j) mod p
    val p = 1000000007L
    val kr = col("kr")
    val assembled = (0 until 64).map { j =>
      val aj = 2654435761L * (j + 1) % p
      shiftleft(when(pmod(kr * lit(aj), lit(p)) > lit(p / 2), lit(1L))
        .otherwise(lit(0L)), j)
    }.reduce(_.bitwiseOR(_))
    val toks = Seq("", "a", "z", "hello", "the", "0123456789",
      "repeated-repeated-repeated", "MiXeD", "café", "über",
      "a b", "trailing ") ++ (0 until 50).map(i => s"tok$i word${i * 7}")
    val df = toks.toDF("tok")
      // rollingHashExpr: the RETIRED Catalyst fold — the reference stays
      // independent of the native KarpRabinHash both fused paths share
      .withColumn("kr", graft.ext.TextStats.rollingHashExpr(col("tok")))
      .withColumn("old", assembled)
      .withColumn("neu", graft.expr.SimHashReplayWord.simhashReplayWord(col("tok")))
    val rows = df.select("tok", "old", "neu").collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for '${r.getString(0)}'")
    }
    // null token → null word (nullSafeEval)
    val n = Seq((1L, null: String)).toDF("id", "tok")
      .select(graft.expr.SimHashReplayWord.simhashReplayWord($"tok")).head()
    assert(n.isNullAt(0))
  }

  test("KarpRabinHash equals the Catalyst fold it replaced") {
    // the token battery of the SimHash pin plus gram-shaped inputs
    // (spaces — the HLL surrogate hashes multi-token grams) and the
    // empty-string → 0 convention
    val toks = Seq("", "a", "z", "hello", "the", "0123456789",
      "repeated-repeated-repeated", "MiXeD", "café", "über",
      "a b", "two gram", "three gram here", "trailing ") ++
      (0 until 50).map(i => s"tok$i word${i * 7}")
    val rows = toks.toDF("tok")
      .withColumn("old", graft.ext.TextStats.rollingHashExpr(col("tok")))
      .withColumn("neu", graft.ext.TextStats.rollingHash(col("tok")))
      .select("tok", "old", "neu").collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for '${r.getString(0)}'")
    }
    assert(rows.find(_.getString(0) == "").get.getLong(2) == 0L)
    // null input → null hash (nullSafeEval)
    val n = Seq((1L, null: String)).toDF("id", "tok")
      .select(graft.ext.TextStats.rollingHash($"tok")).head()
    assert(n.isNullAt(0))
  }

  test("KarpRabinHash stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(concat(lit("tok"), $"id".cast("string")).as("tok"))
      .select(graft.ext.TextStats.rollingHash($"tok").as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("karprabinhash")), plan)
    assert(df.count() == 10)
  }

  test("SimHashReplayWord stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(concat(lit("tok"), $"id".cast("string")).as("tok"))
      .select(graft.expr.SimHashReplayWord.simhashReplayWord($"tok").as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("simhashreplayword")), plan)
    assert(df.count() == 10)
  }

  test("stays inside whole-stage codegen") {
    // a non-foldable source, or constant folding evaluates the whole
    // projection at plan time and leaves only a LocalTableScan
    val df = spark.range(10)
      .select(split(concat_ws(" ", lit("a"), lit("b"), $"id".cast("string")), " ").as("toks"))
      .select(grams($"toks", Fnv64(2)).as("h"), grams($"toks", Tuple(2)).as("t"))
    // the '*(n)' prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("gramwalk")), plan)
    assert(df.count() == 10)
  }

  test("GramWalk KarpRabin equals KR of the joined gram string") {
    // every element is kept: an empty token is a zero-length token of
    // the joined string, a null element reads as ""
    val got = walk(KarpRabin(3))(_.getSeq[Long](1))
    battery.foreach { case (id, toks) =>
      assert(got(id) == GramRef.krGramKeys(toks, 3), s"id=$id")
    }
    assert(got(107L) == null)
    // the packing is the fold of the joined string, checked against the
    // independent KarpRabinHash expression on a few grams
    val s = Seq("𝔘ni", "", "e\u0301")
    val kr = Seq("𝔘ni", "𝔘ni ", "𝔘ni  e\u0301").toDF("g")
      .select(graft.ext.TextStats.rollingHash($"g")).collect().map(_.getLong(0)).toSeq
    val packed = GramRef.krGramKeys(s, 3)
    assert(Seq(packed(0), packed(3), packed(5)).map(_ & 0xffffffffL) == kr)
  }

  test("GramWalk Joined equals the space-joined gram strings") {
    for ((lo, hi) <- Seq((1, 3), (2, 2), (4, 5))) {
      val got = walk(Joined(lo, hi))(_.getSeq[Row](1).map(g => (g.getInt(0), g.getString(1))))
      battery.foreach { case (id, toks) =>
        assert(got(id) == GramRef.joinedGrams(toks, lo, hi), s"($lo, $hi) id=$id")
      }
      assert(got(107L) == null)
    }
  }

  test("GramWalk Tuple equals the lead-window shape") {
    // one tuple per element, null past the end — over strings (null
    // elements stay null) and over array<bigint>
    for (n <- Seq(1, 2, 3)) {
      val got = walk(Tuple(n))(_.getSeq[Seq[Any]](1))
      battery.foreach { case (id, toks) =>
        assert(got(id) == GramRef.tuples(toks, n), s"n=$n id=$id")
      }
      assert(got(107L) == null)
    }
    val longs: Seq[(Long, Seq[Option[Long]])] = Seq(
      1L -> Seq(Some(5L), None, Some(-1L), Some(Long.MaxValue)),
      2L -> Seq(Some(7L)),
      3L -> Seq.empty,
      4L -> (0 until 10000).map(i => if (i % 7 == 0) None else Some(i.toLong * 31)))
    val ldf = spark.sparkContext.parallelize(longs, 2).toDF("id", "xs")
    val got = bothModes {
      ldf.select($"id", grams($"xs", Tuple(3)).as("t")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Seq[Any]](1)).toMap
    }
    longs.foreach { case (id, xs) =>
      assert(got(id) == GramRef.tuples(xs.map(_.map(v => v: Any).orNull), 3), s"id=$id")
    }
  }
}
