package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row BM25 retrieval gate (the [[BigramScore]] family): ONE pass over the string returning
  * [best_query_id (−1 if no term matches), best_score_fp, n_tokens]
  * against a driver-built query-term model — the DEPLOYED form of
  * [[graft.text.Bm25]] for append-mode streams ("does this incoming
  * crawl document retrieve against any eval prompt?"). The join form
  * shuffles per (doc, term); this is a shuffle-free map, so it
  * composes into a streaming gate verbatim.
  *
  * BIT-IDENTICAL to the batch/oracle formulation (Bm25ScoreSpec + the
  * w18 oracle pin):
  *  - tokens = maximal [a-z0-9] runs of the lowercased input (the
  *    [[TokenWalk]] single-sourced family rule), dl = token count;
  *  - tf accumulates only for terms in the model (exact string match,
  *    one hash lookup per token);
  *  - rel = dl·S / avgdl, sat(tf) = 44·tf·S² / (20·tf·S + 6·S + 18·rel)
  *    with S = 2¹⁰ — the [[graft.text.Bm25]] integer saturation;
  *  - score(q) = Σ_{t ∈ q, tf(t) > 0} idf_fp(t) · sat(tf(t)), the idf
  *    precomputed on the driver from the TRAINING corpus statistics;
  *  - best = max score, ties to the smaller query id (query ids are
  *    sorted ascending in the model, so first-wins = smallest).
  *
  * The kernel is the EXACT dense form — it scores every (doc, query)
  * pair the document's terms touch; the batch join form truncates
  * posting lists to [[graft.text.Bm25.Champions]], so kernel ≡ join
  * equality (and the w18 oracle) holds whenever posting lists fit the
  * cap — always at the oracle SF.
  */
case class Bm25Score(child: Expression, model: Bm25Score.Model)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bm25_score requires a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bm25_score"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Bm25Score.scoreOf(model, input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25Model", model,
      classOf[Bm25Score.Model].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.Bm25Score.scoreOf($ref, $c));
       """.stripMargin)
  }
}

object Bm25Score {

  private val S = 1024L

  /** Driver-built query-term model. CSR layout: term t (index into
    * `terms`) belongs to queries `queryIdx(off(t) until off(t+1))`;
    * `idf(t)` is its fixed-point idf from the training corpus;
    * `queryIds` are the (ascending) external query ids; `avgdl` the
    * training corpus max(1, ⌊T/N⌋). Value equality over the payload so
    * Catalyst canonicalization dedups structurally identical score
    * columns (as [[BigramScore.Model]] does). */
  final class Model(val terms: Array[String], val idf: Array[Long],
      val off: Array[Int], val queryIdx: Array[Int],
      val queryIds: Array[Long], val avgdl: Long) extends Serializable {
    require(terms.length == idf.length && off.length == terms.length + 1,
      s"CSR shape mismatch: ${terms.length} terms, ${idf.length} idfs, " +
        s"${off.length} offsets")
    require(avgdl >= 1L, s"avgdl must be >= 1, got $avgdl")
    @transient lazy val lookup: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](terms.length * 2)
      var i = 0
      while (i < terms.length) { m.put(terms(i), i); i += 1 }
      m
    }
    override def equals(o: Any): Boolean = o match {
      case m: Model => java.util.Arrays.equals(
          terms.asInstanceOf[Array[AnyRef]],
          m.terms.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(idf, m.idf) &&
        java.util.Arrays.equals(off, m.off) &&
        java.util.Arrays.equals(queryIdx, m.queryIdx) &&
        java.util.Arrays.equals(queryIds, m.queryIds) && avgdl == m.avgdl
      case _ => false
    }
    override def hashCode: Int =
      31 * (31 * java.util.Arrays.hashCode(
        terms.asInstanceOf[Array[AnyRef]]) +
        java.util.Arrays.hashCode(idf)) + avgdl.toInt
  }

  /** Per-thread scratch: the tf/score accumulators are eval-set sized
    * (terms × queries can reach tens of thousands), so allocating them
    * per ROW would dominate the pass — they are zeroed lazily via
    * touched-lists instead (the arrays stay clean between rows by the
    * reset loops below). Keyed by sizes so two models of different
    * shapes in one thread don't share. */
  private final class Scratch(nt: Int, nq: Int) {
    val tf = new Array[Long](nt)
    val touched = new Array[Int](nt)
    val qscore = new Array[Long](nq)
    val qtouched = new Array[Int](nq)
  }
  private val scratchPool = new ThreadLocal[Scratch]()

  private def scratchFor(nt: Int, nq: Int): Scratch = {
    val s = scratchPool.get()
    if (s == null || s.tf.length < nt || s.qscore.length < nq) {
      val ns = new Scratch(nt, nq)
      scratchPool.set(ns)
      ns
    } else s
  }

  def scoreOf(m: Model, s: UTF8String): Array[Long] = {
    val low = s.toLowerCase.getBytes
    val n = low.length
    val nt = m.terms.length
    val scr = scratchFor(nt, m.queryIds.length)
    val tf = scr.tf
    val touched = scr.touched
    var nTouched = 0
    var dl = 0L
    var i = 0
    while (i < n) {
      if (TokenWalk.tokenLen(low, i, n, ascii = true) > 0) {
        var j = i + 1
        while (j < n && TokenWalk.tokenLen(low, j, n, ascii = true) > 0) j += 1
        dl += 1L
        val w = new String(low, i, j - i,
          java.nio.charset.StandardCharsets.UTF_8)
        val idx = m.lookup.get(w)
        if (idx != null) {
          val t = idx.intValue()
          if (tf(t) == 0L) { touched(nTouched) = t; nTouched += 1 }
          tf(t) += 1L
        }
        i = j
      } else {
        i += TokenWalk.sepStep(low(i) & 0xff)
      }
    }
    if (nTouched == 0) return Array(-1L, 0L, dl)
    val rel = dl * S / m.avgdl
    val scores = scr.qscore
    val qtouched = scr.qtouched
    var nQTouched = 0
    var k = 0
    while (k < nTouched) {
      val t = touched(k)
      val c = tf(t)
      tf(t) = 0L // reset the scratch behind us
      val sat = c * (44L * S * S) / (c * (20L * S) + 6L * S + 18L * rel)
      val contrib = m.idf(t) * sat
      // zero contributions (clamped-idf stop terms) are skipped: they
      // cannot change any score, and marking on the 0→nonzero
      // transition keeps the touched list duplicate-free (contributions
      // are non-negative, so a score never returns to zero)
      if (contrib != 0L) {
        var p = m.off(t)
        while (p < m.off(t + 1)) {
          val q = m.queryIdx(p)
          if (scores(q) == 0L) { qtouched(nQTouched) = q; nQTouched += 1 }
          scores(q) += contrib
          p += 1
        }
      }
      k += 1
    }
    // argmax over TOUCHED queries only (ties to the smaller query id:
    // explicit compare — touched order is insertion order, not id
    // order); zero-score entries never beat bestScore = 0, matching
    // the dense scan. Scratch resets behind the scan.
    var best = -1
    var bestScore = 0L
    var k2 = 0
    while (k2 < nQTouched) {
      val q = qtouched(k2)
      val sc = scores(q)
      scores(q) = 0L
      if (sc > bestScore || (sc == bestScore && sc > 0L && best >= 0 &&
          q < best)) {
        best = q; bestScore = sc
      }
      k2 += 1
    }
    if (best < 0) Array(-1L, 0L, dl)
    else Array(m.queryIds(best), bestScore, dl)
  }

  /** Column wrapper (Spark 4 classic API via [[GraftBridge]]). */
  def apply(c: Column, model: Model): Column =
    GraftBridge.column(Bm25Score(GraftBridge.expression(c), model))
}
