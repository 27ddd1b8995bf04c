package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, NullType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** What a [[GramWalk]] emits for each run of consecutive array elements.
  * The call site picks one; every payload shares the walk's null/empty
  * rule. */
sealed trait GramPayload extends Serializable

object GramPayload {

  /** Sliding k-gram 64-bit FNV-1a hashes, `array<bigint>`: n−k+1 values
    * for n elements. Each gram folds the UTF-8 bytes of its k tokens with
    * a 0x1f separator byte after each token, so token-boundary shifts
    * ("ab","c" vs "a","bc") hash differently. Gram identity only needs
    * self-consistency between the sides that both run this payload; the
    * oracles replay membership with raw string grams. The SQL function
    * `token_gram_hashes(tokens, k)` builds this payload. */
  final case class Fnv64(k: Int) extends GramPayload

  /** Every 1..maxN gram's Karp–Rabin hash, `array<bigint>`, n-major then
    * position, each packed `n << 32 | hash` (hash < 10⁹+7 < 2³²). The
    * hash is BIT-IDENTICAL to [[KarpRabinHash]] of the gram's tokens
    * joined by single spaces, computed compositionally from one
    * code-point walk per token:
    * KR(a ⧺ " " ⧺ b) = (KR(a) · 257^(cp(b)+1) + KR(" " ⧺ b)) mod P. */
  final case class KarpRabin(maxN: Int) extends GramPayload

  /** Every minN..maxN gram as `struct<n int, gram string>`, n-major then
    * position; the gram is its tokens joined by single spaces — the
    * oracle SQL's `concat_ws(' ', …)`/`array_to_string` string. Unigrams
    * reuse the input UTF8Strings. */
  final case class Joined(minN: Int, maxN: Int) extends GramPayload

  /** For every position i, the elements i … i+n−1 as an array, null past
    * the end: one tuple per element, the shape of `lead` at offsets
    * 0 … n−1 over a position-ordered window. Works on any element type, keeps
    * null elements null, and reuses the input values. */
  final case class Tuple(n: Int) extends GramPayload
}

/** The one gram walker over an array column: walks each row's array once
  * and emits its runs of consecutive elements as the [[GramPayload]]
  * asks. It replaces the posexplode → doc-keyed sort → `lead` window
  * chain: the gram stream is a map-only projection inside whole-stage
  * codegen, with no per-doc exchange and no per-doc sort. Grams never
  * cross rows, so each row's array is its own token stream.
  *
  * Null/empty rule, one for every payload: a null array gives null
  * (explode then emits nothing); fewer elements than a gram order give
  * no gram of that order (an empty array, never null); every element is
  * kept — an empty token is a token. A null element acts as "" in the
  * hash and joined payloads and stays null in [[GramPayload.Tuple]]. An
  * operator that slides over non-empty tokens only removes the empty
  * ones itself (`array_remove(toks, "")`) before the walk.
  *
  * Generated code and the interpreter call the same static
  * [[GramWalk.compute]] (the [[KarpRabinHash]] pattern). */
case class GramWalk(child: Expression, payload: GramPayload) extends UnaryExpression {
  import GramPayload._

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def dataType: DataType = payload match {
    case Fnv64(_) | KarpRabin(_) => ArrayType(LongType, containsNull = false)
    case Joined(_, _) => GramWalk.JoinedType
    case Tuple(_) => ArrayType(ArrayType(elemType, containsNull = true), containsNull = false)
  }

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val (lo, hi) = payload match {
      case Fnv64(k) => (k, k)
      case KarpRabin(maxN) => (1, maxN)
      case Joined(minN, maxN) => (minN, maxN)
      case Tuple(n) => (n, n)
    }
    val typeOk = child.dataType match {
      case ArrayType(StringType, _) => true
      case ArrayType(_, _) => payload.isInstanceOf[Tuple]
      case _ => false
    }
    if (!typeOk)
      TypeCheckResult.TypeCheckFailure(
        s"gram walk $payload needs an array${if (payload.isInstanceOf[Tuple]) "" else "<string>"}" +
          s" input, got ${child.dataType}")
    else if (lo < 1 || hi < lo)
      TypeCheckResult.TypeCheckFailure(s"gram walk needs 1 <= minN <= maxN, got $payload")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(input: Any): Any =
    GramWalk.compute(input.asInstanceOf[ArrayData], payload, elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("gramPayload", payload, classOf[GramPayload].getName)
    val t = ctx.addReferenceObj("gramElemType", elemType, classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.expr.GramWalk.compute($c, $p, $t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramWalk {
  import GramPayload._

  private[expr] val JoinedType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)

  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L
  private val P = 1000000007L
  private val Space = UTF8String.fromString(" ")

  /** Column API: the gram walk of an array column. */
  def grams(tokens: Column, payload: GramPayload): Column =
    Bridge.column(GramWalk(Bridge.expression(tokens), payload))

  /** The walk. Public static so generated code calls the same body the
    * interpreter does. */
  def compute(arr: ArrayData, payload: GramPayload, elemType: DataType): ArrayData = {
    val len = arr.numElements()
    payload match {
      case Tuple(n) =>
        val xs = arr.toObjectArray(elemType)
        val out = new Array[Any](len)
        var i = 0
        while (i < len) {
          val t = new Array[Any](n)
          System.arraycopy(xs, i, t, 0, math.min(n, len - i))
          out(i) = new GenericArrayData(t)
          i += 1
        }
        new GenericArrayData(out)
      case Fnv64(k) =>
        val bytes = Array.tabulate(len)(t => token(arr, t).getBytes)
        val out = new Array[Long](math.max(len - k + 1, 0))
        var i = 0
        while (i < out.length) {
          var h = FnvOffset
          var j = 0
          while (j < k) {
            val b = bytes(i + j)
            var c = 0
            while (c < b.length) { h ^= (b(c) & 0xff).toLong; h *= FnvPrime; c += 1 }
            h ^= 0x1fL
            h *= FnvPrime
            j += 1
          }
          out(i) = h
          i += 1
        }
        new GenericArrayData(out)
      case KarpRabin(maxN) =>
        // per token: h = KR(token), g = KR(" " + token), pw = 257^(cp+1)
        val hs = new Array[Long](len)
        val gs = new Array[Long](len)
        val pws = new Array[Long](len)
        var t = 0
        while (t < len) {
          val s = token(arr, t).toString
          var h = 0L
          var p = 1L
          var c = 0
          while (c < s.length) {
            val cp = s.codePointAt(c)
            h = (h * 257L + cp) % P
            p = (p * 257L) % P
            c += Character.charCount(cp)
          }
          hs(t) = h
          gs(t) = (32L * p + h) % P // the fold of " " + token starts at 32
          pws(t) = (p * 257L) % P // the space adds one digit
          t += 1
        }
        val out = new Array[Long](count(len, 1, maxN))
        var o = 0
        var n = 1
        while (n <= maxN) {
          val tag = n.toLong << 32
          var i = 0
          while (i <= len - n) {
            var h = hs(i)
            var j = 1
            while (j < n) { h = (h * pws(i + j) + gs(i + j)) % P; j += 1 }
            out(o) = tag | h
            o += 1
            i += 1
          }
          n += 1
        }
        new GenericArrayData(out)
      case Joined(minN, maxN) =>
        val toks = Array.tabulate(len)(token(arr, _))
        val out = new Array[Any](count(len, minN, maxN))
        var o = 0
        var n = minN
        while (n <= maxN) {
          val buf = new Array[UTF8String](n)
          var i = 0
          while (i <= len - n) {
            val gram =
              if (n == 1) toks(i)
              else {
                System.arraycopy(toks, i, buf, 0, n)
                UTF8String.concatWs(Space, buf: _*)
              }
            out(o) = new GenericInternalRow(Array[Any](n, gram))
            o += 1
            i += 1
          }
          n += 1
        }
        new GenericArrayData(out)
    }
  }

  /** Element t as a string token; a null element acts as "". */
  private def token(arr: ArrayData, t: Int): UTF8String =
    if (arr.isNullAt(t)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(t)

  /** Number of grams of orders lo..hi over len elements. */
  private def count(len: Int, lo: Int, hi: Int): Int =
    (lo to hi).iterator.map(n => math.max(len - n + 1, 0)).sum
}
