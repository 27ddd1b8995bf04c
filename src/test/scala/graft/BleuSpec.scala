package graft

import graft.ext.Bleu

/** Hand-computed coverage for [[graft.ext.Bleu.bleu2]]: every clipped
  * count, precision, and brevity penalty checkable by eye. */
class BleuSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  private type Scores = (Long, Long, Option[Double], Option[Double], Option[Double],
    Option[Double])

  /** (pair_id → c_len, r_len, p1, p2, bp, bleu) of a bleu2 output. */
  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Scores] =
    df.collect().map { r =>
      def d(c: String) = Option(r.getAs[java.lang.Double](c)).map(_.doubleValue)
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_len"), r.getAs[Long]("r_len"),
        d("p1"), d("p2"), d("bp"), d("bleu")))
    }.toMap

  /** Plain-Scala BLEU-2 over string grams, in the operator's arithmetic
    * order (StrictMath.exp is Spark's exp). */
  private def bleuRef(cand: String, ref: String): Scores = {
    val c = GramRef.liveTokens(cand)
    val r = GramRef.liveTokens(ref)
    def precision(n: Int): Option[Double] = {
      val (cc, rc) = (GramRef.gramCounts(c, n), GramRef.gramCounts(r, n))
      val hit = cc.toSeq.map { case (g, k) => math.min(k, rc.getOrElse(g, 0L)) }.sum
      val tot = cc.values.sum
      if (tot > 0) Some(r6(hit.toDouble / tot)) else None
    }
    val bp =
      if (c.isEmpty) None
      else if (c.length >= r.length) Some(1.0)
      else Some(r6(StrictMath.exp(1.0 - r.length.toDouble / c.length)))
    val (p1, p2) = (precision(1), precision(2))
    val bleu = for (a <- p1; b <- p2; q <- bp) yield r6(q * math.sqrt(a * b))
    (c.length.toLong, r.length.toLong, p1, p2, bp, bleu)
  }

  test("bleu2: hand-computed clipped precisions, bp, and the composite") {
    val pairs = Seq(
      // identical -> p1 = p2 = 1, bp = 1, bleu = 1
      (1L, "the cat sat", "the cat sat"),
      // cand "the the the cat" vs ref "the cat sat on the mat":
      // unigrams: the x3 clipped by ref(the)=2 -> 2, cat 1 -> hit 3/4
      // bigrams: "the the" x2 (ref 0), "the cat" 1 (ref 1) -> 1/3
      // bp: c=4 < r=6 -> exp(1 - 6/4) = exp(-0.5)
      (2L, "the the the cat", "the cat sat on the mat"),
      // zero unigram overlap -> p1 = 0, bleu = 0
      (3L, "aa bb", "cc dd"),
      // 1-token candidate: no bigrams -> p2 null -> bleu null
      (4L, "cat", "cat sat"),
      // whitespace-only candidate: c_len 0 -> everything null
      (5L, "   ", "cat sat")
    ).toDF("pair_id", "candidate", "reference")
    val out = scores(Bleu.bleu2(pairs))
    assert(out(1L) == (3L, 3L, Some(1.0), Some(1.0), Some(1.0), Some(1.0)), s"got $out")
    val bp2 = r6(math.exp(-0.5))
    val bleu2 = r6(bp2 * math.sqrt(0.75 * r6(1.0 / 3.0)))
    assert(out(2L) == (4L, 6L, Some(0.75), Some(r6(1.0 / 3.0)), Some(bp2), Some(bleu2)),
      s"got ${out(2L)}")
    assert(out(3L) == (2L, 2L, Some(0.0), Some(0.0), Some(1.0), Some(0.0)))
    assert(out(4L) == (1L, 2L, Some(1.0), None, Some(r6(math.exp(-1.0))), None))
    assert(out(5L) == (0L, 2L, None, None, None, None))
  }

  test("bleu2: hashKeys relabeling is row-exact vs the string-gram path") {
    // bleu2 keys its clip groups by 64-bit gram hash while the registry
    // oracle replays string grams — sound iff hashing only relabels the
    // groups. Pin row-exact equality with a plain-Scala string-gram
    // reference on the hand-computed battery plus boundary-sensitive and
    // repeated-gram pairs.
    val rows = Seq(
      (1L, "the cat sat", "the cat sat"),
      (2L, "the the the cat", "the cat sat on the mat"),
      (3L, "aa bb", "cc dd"),
      (4L, "cat", "cat sat"),
      (5L, "   ", "cat sat"),
      (6L, "ab c ab c ab", "ab c x ab"),
      (7L, "a bc", "ab c")
    )
    val got = scores(Bleu.bleu2(rows.toDF("pair_id", "candidate", "reference")))
    val want = rows.map { case (id, c, r) => id -> bleuRef(c, r) }.toMap
    assert(got == want, s"bleu2 vs string-gram reference:\n$got\n$want")
  }

  test("bleu2: null text drops the pair; asymmetry of cand/ref roles") {
    val pairs = Seq(
      (1L, Option("a b"), Option.empty[String]),
      (2L, Option.empty[String], Option("a b")),
      // cand shorter subset of ref: full precision, penalized length
      (3L, Option("a b"), Option("a b c d")),
      // roles swapped: extra cand tokens dilute precision, bp = 1
      (4L, Option("a b c d"), Option("a b"))
    ).toDF("pair_id", "candidate", "reference")
    val out = Bleu.bleu2(pairs).collect().map(r =>
      r.getAs[Long]("pair_id") -> (
        Option(r.getAs[java.lang.Double]("p1")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("bp")).map(_.doubleValue))).toMap
    assert(!out.contains(1L) && !out.contains(2L), s"null-text pairs present: $out")
    assert(out(3L) == (Some(1.0), Some(r6(math.exp(-1.0)))))
    assert(out(4L) == (Some(0.5), Some(1.0)))
  }
}
