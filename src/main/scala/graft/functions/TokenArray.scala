package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenizer (SURVEY.md §7.3 "custom Catalyst Expression,
  * perf-only"): lower-case the string once and emit the maximal
  * word-class runs as an array — the engine's
  * `filter(split(lower(text), "[^a-zà-ÿ0-9]+"), _ != "")` contract
  * (and the `[^a-z0-9]+` one with `ascii = true`) in ONE pass over
  * the lowercased bytes.
  *
  * Motivation is the measured 4× regex cliff: a JVM `split` on the
  * à-ÿ-extended class loses the ASCII fast path (26.6 s vs 6.9 s for
  * the same sf1 corpus scan, measured A/B), and tokenization is the
  * inner loop of every text operator (OOV, TF-IDF, familiarity,
  * repetition, chunking, BPE) — at 100 TB the split IS the scan cost.
  * The kernel pays neither the regex nor the HOF filter: token slices
  * are zero-copy UTF8String views over the lowercased buffer.
  *
  * BIT-IDENTICAL to the regex formulation for well-formed input
  * (spec-pinned; the oracles of every consumer pin it cross-engine):
  * lowercase = the same UTF8String.toLowerCase the `lower` builtin
  * applies (full-case mappings agree); token code points = ASCII
  * [a-z0-9] ∪ U+00E0–U+00FF (the à-ÿ range — 2-byte sequences, so a
  * byte walk classifies exactly); every other code point (3/4-byte
  * sequences included, all bytes ≥ 0x80 but with lead bytes ≥ 0xE0)
  * is a separator.
  *
  * On MALFORMED UTF-8 the kernels follow the [[TokenWalk]] family rule
  * (a bare continuation byte advances 2, which can skip a following
  * token byte) and may diverge from the regex — equality is pinned for
  * well-formed strings plus kernel-internal consistency only
  * (TokenArrayPropertySpec guards the family rule). Do NOT assume
  * regex equality on arbitrary bytes in a new kernel.
  */
case class TokenArray(child: Expression, ascii: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_array requires a string input, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_array"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    TokenArray.tokensOf(input.asInstanceOf[UTF8String], ascii)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenArray.tokensOf($c, $ascii);")
}

object TokenArray {

  /** One pass over the lowercased bytes; token slices are zero-copy
    * views (UTF8String.fromBytes keeps the backing array). */
  def tokensOf(s: UTF8String, ascii: Boolean): GenericArrayData = {
    val lowS = s.toLowerCase
    val low = lowS.getBytes
    val n = low.length
    val out = new java.util.ArrayList[Any](8)
    var i = 0
    while (i < n) {
      // advance to the next token byte ([[TokenWalk]] — the family
      // classification rule, single-sourced), so size(TokenArray(c))
      // == the QualityStats token count and trigrams over these tokens
      // == RepetitionStats on EVERY input, well-formed or not
      var start = -1
      while (i < n && start < 0) {
        if (TokenWalk.tokenLen(low, i, n, ascii) > 0) start = i
        else i += TokenWalk.sepStep(low(i) & 0xff)
      }
      if (start >= 0) {
        var j = start
        var tl = TokenWalk.tokenLen(low, j, n, ascii)
        while (tl > 0) {
          j += tl
          tl = if (j < n) TokenWalk.tokenLen(low, j, n, ascii) else 0
        }
        out.add(UTF8String.fromBytes(low, start, j - start))
        i = j
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Column wrapper: the `[a-zà-ÿ0-9]` engine-standard class. */
  def apply(c: Column): Column =
    GraftBridge.column(TokenArray(GraftBridge.expression(c), ascii = false))

  /** Column wrapper: the ASCII `[a-z0-9]` (DSIR-family) class. */
  def asciiTokens(c: Column): Column =
    GraftBridge.column(TokenArray(GraftBridge.expression(c), ascii = true))
}
