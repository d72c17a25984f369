package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row unigram-LM tokenizer encode (the [[BigramScore]] family):
  * ONE pass over the string returning [n_words, n_pieces, cost_fp]
  * against a driver-built piece-cost model — the Viterbi segmentation
  * of [[graft.text.UnigramLm]] as a shuffle-free map, append-mode
  * stream legal.
  *
  * BIT-IDENTICAL to the unrolled-DP mirror (UnigramLmSpec + the t33
  * oracle pin):
  *  - tokens = maximal [a-z0-9] runs of the lowercased input (the
  *    [[TokenWalk]] single-sourced family rule);
  *  - per token ≤ MaxWordLen chars: dp over the combined key
  *    cost·2²⁰ + pieces, min-plus over steps (piece length 1 always
  *    steps — vocabulary cost or the UnkCost floor — lengths
  *    2..MaxPieceLen only on vocabulary hits);
  *  - longer tokens: the character-fallback closed form;
  *  - the returned cost_fp/n_pieces are the key's high/low fields
  *    summed over tokens.
  *
  * Repeated words inside one document hit a per-row memo, so the DP
  * runs once per DISTINCT word per row.
  */
case class UnigramEncode(child: Expression, model: UnigramEncode.Model)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_encode requires a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "unigram_encode"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      UnigramEncode.encodeOf(model, input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramModel", model,
      classOf[UnigramEncode.Model].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.UnigramEncode.encodeOf($ref, $c));
       """.stripMargin)
  }
}

object UnigramEncode {

  private val F = 65536L
  private val CntScale = 1048576L

  /** Driver-built piece costs (per piece, [[BigramScore.nllFp]] of its
    * probability). Value equality over the payload so Catalyst
    * canonicalization dedups structurally identical encode columns
    * (as [[BigramScore.Model]] does). */
  final class Model(val costs: Map[String, Long], val maxPieceLen: Int,
      val maxWordLen: Int) extends Serializable {
    val unkCost: Long = 30L * F
    override def equals(o: Any): Boolean = o match {
      case m: Model => costs == m.costs && maxPieceLen == m.maxPieceLen &&
        maxWordLen == m.maxWordLen
      case _ => false
    }
    override def hashCode: Int =
      31 * (31 * costs.hashCode + maxPieceLen) + maxWordLen
  }

  /** The per-word combined DP key (cost·2²⁰ + pieces). Exposed for the
    * spec's driver recompute. */
  def wordKey(m: Model, w: String): Long = {
    val n = w.length
    if (n > m.maxWordLen) {
      // character fallback: sum of per-char steps
      var key = 0L
      var i = 0
      while (i < n) {
        key += m.costs.getOrElse(String.valueOf(w.charAt(i)),
          m.unkCost) * CntScale + 1L
        i += 1
      }
      key
    } else {
      val dp = new Array[Long](n + 1)
      var i = 1
      while (i <= n) {
        var best = Long.MaxValue
        var l = 1
        val lmax = math.min(m.maxPieceLen, i)
        while (l <= lmax) {
          val piece = w.substring(i - l, i)
          val c =
            if (l == 1) m.costs.getOrElse(piece, m.unkCost)
            else m.costs.getOrElse(piece, -1L)
          if (c >= 0L) {
            val cand = dp(i - l) + c * CntScale + 1L
            if (cand < best) best = cand
          }
          l += 1
        }
        dp(i) = best
        i += 1
      }
      dp(n)
    }
  }

  /** The CANONICAL Viterbi path of a word — the deterministic
    * segmentation hard-EM re-estimates from: run the [[wordKey]] DP,
    * then walk back from the end choosing, among the steps that
    * achieve the cell's minimal key, the SHORTEST piece (smallest l —
    * the tie rule the t34 mirror replays as `ORDER BY l`). Words past
    * maxWordLen take the character fallback, mirroring [[wordKey]].
    * Pieces are returned in reverse (end-to-start) order — usage
    * counting is order-blind. */
  def pathPieces(m: Model, w: String): Seq[String] = {
    val n = w.length
    if (n > m.maxWordLen)
      return (n - 1 to 0 by -1).map(i => String.valueOf(w.charAt(i)))
    val dp = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var best = Long.MaxValue
      var l = 1
      val lmax = math.min(m.maxPieceLen, i)
      while (l <= lmax) {
        val piece = w.substring(i - l, i)
        val c =
          if (l == 1) m.costs.getOrElse(piece, m.unkCost)
          else m.costs.getOrElse(piece, -1L)
        if (c >= 0L) {
          val cand = dp(i - l) + c * CntScale + 1L
          if (cand < best) best = cand
        }
        l += 1
      }
      dp(i) = best
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var pos = n
    while (pos > 0) {
      var chosen = -1
      var l = 1
      val lmax = math.min(m.maxPieceLen, pos)
      while (l <= lmax && chosen < 0) {
        val piece = w.substring(pos - l, pos)
        val c =
          if (l == 1) m.costs.getOrElse(piece, m.unkCost)
          else m.costs.getOrElse(piece, -1L)
        if (c >= 0L && dp(pos - l) + c * CntScale + 1L == dp(pos)) chosen = l
        l += 1
      }
      // chosen is always found: dp(pos) was built from one of these
      out += w.substring(pos - chosen, pos)
      pos -= chosen
    }
    out.toSeq
  }

  def encodeOf(m: Model, s: UTF8String): Array[Long] = {
    val low = s.toLowerCase.getBytes
    val n = low.length
    var nWords = 0L
    var nPieces = 0L
    var cost = 0L
    // per-row memo: the DP runs once per distinct word per document
    val memo = new java.util.HashMap[String, java.lang.Long]()
    var i = 0
    while (i < n) {
      if (TokenWalk.tokenLen(low, i, n, ascii = true) > 0) {
        var j = i + 1
        while (j < n && TokenWalk.tokenLen(low, j, n, ascii = true) > 0) j += 1
        val w = new String(low, i, j - i,
          java.nio.charset.StandardCharsets.UTF_8)
        var key = memo.get(w)
        if (key == null) {
          key = java.lang.Long.valueOf(wordKey(m, w))
          memo.put(w, key)
        }
        nWords += 1L
        cost += key.longValue / CntScale
        nPieces += key.longValue % CntScale
        i = j
      } else {
        i += TokenWalk.sepStep(low(i) & 0xff)
      }
    }
    Array(nWords, nPieces, cost)
  }

  /** Column wrapper (Spark 4 classic API via [[GraftBridge]]). */
  def apply(c: Column, model: Model): Column =
    GraftBridge.column(UnigramEncode(GraftBridge.expression(c), model))
}
