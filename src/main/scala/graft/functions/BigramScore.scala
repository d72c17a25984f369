package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Fused hashed-bigram document scoring (SURVEY.md §7.3 "custom
  * Catalyst Expression, perf-only"): ONE pass over a document's token
  * array returning [n_grams, nll_fp] against one segment of a
  * driver-built dense count model — the deployed per-row form of every
  * hashed bigram LM gate (t28/w13/w14 add-one, t29/t30/w15/w16
  * per-script and per-language add-one, t32/w17 Kneser–Ney). No
  * shuffle, no state, append-mode stream legal: the same Column serves
  * a batch query and its stream.
  *
  * The left child is the token array — [[TokenArray.asciiTokens]]
  * (maximal [a-z0-9] runs of the lowercased text, the [[TokenWalk]]
  * family rule on every byte string) for the single-model gates,
  * [[graft.text.ScriptText.tokens]] for the routed ones; the right
  * child is the dense segment index (0 for a single model, the routed
  * script/language otherwise). An index outside the model's segments
  * or fewer than 2 tokens scores [0, 0] (the tagged-unscorable
  * result); a NULL input is NULL. Per gram (w₁, w₂), with the model's
  * estimate q clamped to [1, 2³⁰] (hash collisions can push a bucketed
  * probability past 1),
  *
  *   nll += [[BigramScore.nllFp]](q)
  *
  * BIT-IDENTICAL to the Column/join reference forms: LmScoreSpec
  * (add-one ≡ [[graft.text.LanguageModel.nllColumnsReference]]),
  * ScriptLmSpec (≡ the [[graft.text.ScriptLm.score]] join form) and
  * KneserNeySpec (≡ [[graft.text.LanguageModel.knScore]]) pin it per
  * row; the w14/t29/t32 oracles pin it cross-engine.
  */
case class BigramScore(left: Expression, right: Expression,
    model: BigramScore.Model) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bigram_score requires (array<string>, int), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bigram_score"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def nullSafeEval(toks: Any, seg: Any): Any =
    new GenericArrayData(BigramScore.scoreOf(model,
      toks.asInstanceOf[ArrayData], seg.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramModel", model,
      classOf[BigramScore.Model].getName)
    nullSafeCodeGen(ctx, ev, (t, i) =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.BigramScore.scoreOf($ref, $t, $i));
       """.stripMargin)
  }
}

object BigramScore {

  private val F = 65536L
  private val PScale = 1073741824L

  /** A driver-built dense estimator. Value equality over the payload,
    * so Catalyst canonicalization / common-subexpression elimination
    * treats independently constructed, structurally identical score
    * columns as the same work. */
  sealed abstract class Model extends Serializable {
    /** Number of dense segments the index may address. */
    def segments: Int
    /** The unclamped probability estimate ×2³⁰ of gram (w1, w2) in
      * segment `seg`. */
    def q(seg: Int, w1: String, w2: String): Long
    protected def payload: Seq[Any]

    override def equals(o: Any): Boolean = o match {
      case m: Model => getClass == m.getClass &&
        payload.corresponds(m.payload) {
          case (a: Array[Long], b: Array[Long]) => java.util.Arrays.equals(a, b)
          case (a, b) => a == b
        }
      case _ => false
    }
    override def hashCode: Int = payload.map {
      case a: Array[Long] => java.util.Arrays.hashCode(a)
      case x => x.##
    }.hashCode
  }

  /** Add-one (Laplace over the b2-bucket event space) counts, one
    * segment per route: d2.length = n·b2, d1.length = n·b1
    * ([[graft.text.LanguageModel.denseCounts]] builds the one-segment
    * model, [[graft.text.ScriptLm.denseCounts]] the per-route one; both
    * envelope-check it). In segment s,
    *
    *   q = (d2[s·b2 + bucket(w₁⌣' '⌣w₂, b2)] + 1)·2³⁰ /
    *       (d1[s·b1 + bucket(w₁, b1)] + b2)
    */
  final class AddOne(d2s: Seq[Long], d1s: Seq[Long], val b2: Int,
      val b1: Int) extends Model {
    val d2: Array[Long] = d2s.toArray
    val d1: Array[Long] = d1s.toArray
    require(b2 > 0 && b1 > 0 && d2.length % b2 == 0 &&
      d1.length % b1 == 0 && d2.length / b2 == d1.length / b1,
      s"dense segments must tile: (${d2.length}, ${d1.length}) vs ($b2, $b1)")
    val segments: Int = d2.length / b2
    def q(seg: Int, w1: String, w2: String): Long = {
      val c2 = d2(seg * b2 + bucket(w1 + " " + w2, b2))
      val c1 = d1(seg * b1 + bucket(w1, b1))
      ((c2 + 1L) * PScale) / (c1 + b2.toLong)
    }
    protected def payload: Seq[Any] = Seq(d2, d1, b2, b1)
  }

  /** Kneser–Ney statistics, one segment
    * ([[graft.text.LanguageModel.knDenseCounts]] builds and
    * envelope-checks them): bigram counts d2 (length b2), prefix
    * counts / continuation-type counts c1/n1 (length b1, the w₁
    * bucket), continuation counts cont (length b1, the w₂ bucket) and
    * the type total t. With c2/c1/n1/cont the bucket counts,
    *
    *   c1 > 0: q = ⌊max(4·c2 − 3, 0)·2³⁰ / (4·c1)⌋
    *               + ⌊⌊3·n1·2³⁰ / (4·c1)⌋·cont / t⌋
    *   c1 = 0: q = ⌊cont·2³⁰ / t⌋
    */
  final class KneserNey(d2s: Seq[Long], c1s: Seq[Long], n1s: Seq[Long],
      conts: Seq[Long], val t: Long) extends Model {
    val d2: Array[Long] = d2s.toArray
    val c1: Array[Long] = c1s.toArray
    val n1: Array[Long] = n1s.toArray
    val cont: Array[Long] = conts.toArray
    require(c1.length == n1.length && c1.length == cont.length && t > 0L,
      s"KN model shapes: c1 ${c1.length}, n1 ${n1.length}, " +
        s"cont ${cont.length}, t $t")
    val segments: Int = 1
    def q(seg: Int, w1: String, w2: String): Long = {
      val jb = bucket(w1, c1.length)
      val ub = bucket(w2, c1.length)
      val k2 = d2(bucket(w1 + " " + w2, d2.length))
      val k1 = c1(jb)
      if (k1 > 0L)
        (math.max(k2 * 4L - 3L, 0L) * PScale) / (k1 * 4L) +
          ((n1(jb) * 3L * PScale) / (k1 * 4L)) * cont(ub) / t
      else cont(ub) * PScale / t
    }
    protected def payload: Seq[Any] = Seq(d2, c1, n1, cont, t)
  }

  def scoreOf(m: Model, toks: ArrayData, seg: Int): Array[Long] = {
    val n = toks.numElements()
    if (seg < 0 || seg >= m.segments || n < 2) return Array(0L, 0L)
    var nll = 0L
    var prev = toks.getUTF8String(0).toString
    var i = 1
    while (i < n) {
      val w = toks.getUTF8String(i).toString
      nll += nllFp(math.min(math.max(m.q(seg, prev, w), 1L), PScale))
      prev = w
      i += 1
    }
    Array((n - 1).toLong, nll)
  }

  /** The engine-wide fixed-point NLL ladder for q ∈ [1, 2³⁰]:
    * 31·2¹⁶ − e·2¹⁶ − ⌊q·2¹⁶ / 2ᵉ⌋ with e = ⌊log2 q⌋ — the closed Long
    * form of the 31-branch CASE [[graft.text.LanguageModel.nllFp]]
    * (numberOfLeadingZeros gives the exact ⌊log2⌋). */
  def nllFp(q: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(q)
    31L * F - e * F - (q * F) / (1L << e)
  }

  // per-thread digest: getInstance per call pays a JCA provider lookup
  // + allocation on the declared hot path
  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** = pmod([[graft.dedup.Dedup.md5Long]](s), m): the first 15 md5 hex
    * digits (the digest's top 60 bits, so the value is exact and
    * non-negative) mod the bucket count. */
  def bucket(s: String, m: Int): Int = {
    val md = mdPool.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 7) {
      h = (h << 8) | (d(i) & 0xff)
      i += 1
    }
    h = (h << 4) | ((d(7) >> 4) & 0xf)
    (h % m).toInt
  }

  /** Column wrapper (Spark 4 classic API via [[GraftBridge]]). */
  def apply(tokens: Column, segment: Column, model: Model): Column =
    GraftBridge.column(BigramScore(GraftBridge.expression(tokens),
      GraftBridge.expression(segment), model))
}
