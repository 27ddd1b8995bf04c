package graft

import java.nio.charset.StandardCharsets.UTF_8

/** Plain-Scala references for the text operators' specs, computed
  * without Spark: the engine tokenizer, gram slicing, and the gram keys
  * the native kernels emit. Specs collect a fixture, rebuild each
  * operator's output from string grams with these, and compare rows. */
object GramRef {

  /** The engine tokenizer `split(lower(trim(text)), "\\s+")`: trim strips
    * spaces only, and the split keeps empty tokens — a whitespace-only
    * text is one empty token. A null text has no tokens. */
  def tokens(text: String): Seq[String] =
    if (text == null) Seq.empty
    else {
      val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1).toSeq
    }

  /** [[tokens]] without the empty ones — the convention of the operators
    * that skip empty tokens (distinct-n, BLEU, ROUGE-N). */
  def liveTokens(text: String): Seq[String] = tokens(text).filter(_.nonEmpty)

  /** Every k-token slice in order; none when fewer than k tokens. */
  def grams(toks: Seq[String], k: Int): Seq[Seq[String]] =
    if (toks.length < k) Seq.empty else toks.sliding(k).toSeq

  /** The gram string: its tokens joined by one space (the oracle's form). */
  def gramString(gram: Seq[String]): String = gram.mkString(" ")

  /** Occurrence count of each n-gram string of a token sequence. */
  def gramCounts(toks: Seq[String], n: Int): Map[String, Long] =
    grams(toks, n).groupMapReduce(gramString)(_ => 1L)(_ + _)

  /** The 64-bit key the [[graft.expr.GramWalk]] `Fnv64` payload gives a
    * gram: FNV-1a over each token's UTF-8 bytes, a 0x1f separator byte
    * after each token; a null token contributes no bytes. */
  def gramKey(gram: Seq[String]): Long = {
    var h = 0xcbf29ce484222325L
    for (t <- gram) {
      if (t != null) for (b <- t.getBytes(UTF_8)) {
        h ^= (b & 0xff).toLong; h *= 0x100000001b3L
      }
      h ^= 0x1fL; h *= 0x100000001b3L
    }
    h
  }

  /** The key of one token — how the KN/SB model frames name a word. */
  def key(tok: String): Long = gramKey(Seq(tok))

  /** [[gramKey]] of every k-token slice: the kernel's output array. */
  def gramKeys(toks: Seq[String], k: Int): Seq[Long] = grams(toks, k).map(gramKey)

  /** Karp–Rabin fold `h ← (h·257 + codePoint) mod (10⁹+7)` of a string. */
  def karpRabin(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 257L + cp) % 1000000007L)

  /** The gram walk's slice-and-join string of a gram: its tokens joined
    * by one space, a null token read as "". */
  def joined(gram: Seq[String]): String = gram.map(t => if (t == null) "" else t).mkString(" ")

  /** `Joined(minN, maxN)`: every (n, gram string), n-major then position. */
  def joinedGrams(toks: Seq[String], minN: Int, maxN: Int): Seq[(Int, String)] =
    (minN to maxN).flatMap(n => grams(toks, n).map(g => n -> joined(g)))

  /** `KarpRabin(maxN)`: the Karp–Rabin fold of every gram string, packed
    * `n << 32 | hash`, n-major then position. */
  def krGramKeys(toks: Seq[String], maxN: Int): Seq[Long] =
    joinedGrams(toks, 1, maxN).map { case (n, g) => (n.toLong << 32) | karpRabin(g) }

  /** `Tuple(n)`: for every position, the next n elements, null past the
    * end. */
  def tuples(xs: Seq[Any], n: Int): Seq[Seq[Any]] =
    xs.indices.map(i => (i until i + n).map(j => if (j < xs.length) xs(j) else null))

  /** Spark's `floor(x·1e6 + 0.5) / 1e6` canon. */
  def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
}
