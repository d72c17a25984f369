package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row MinHash-LSH band buckets (SURVEY.md §7.3 "custom
  * Catalyst Expression, perf-only"): words array → k-shingles →
  * distinct 30-bit md5 gram hashes → numPerms permutation minima →
  * per-band md5 bucket, all in ONE JVM loop.
  *
  * The Column formulation ([[graft.dedup.Dedup.inlineLshBuckets]]'s
  * original body) chained higher-order functions — transform for the
  * shingles, filter + array_distinct, a transform per gram hash, and
  * 16 array_min(transform(...)) minima. Higher-order functions do not
  * participate in whole-stage codegen (CodegenFallback + a closure per
  * element), which made the w9 per-row bucket computation ~25 ms/doc
  * interpreted (~40 s for 50 k docs at sf1) for work a flat loop does
  * in microseconds. Same upgrade as PieceCounts/DotProduct.
  *
  * BIT-IDENTICAL to the Column/oracle formulation (spec + w9 oracle
  * pin): gram hash = [[BigramScore.bucket]](gram, 2^30) (first 15 md5
  * hex chars parsed base-16 mod 2^30, [[graft.dedup.Dedup.md5Long]]);
  * permutation i (1-based) maps h →
  * (2i+1)·h + (7919·i mod P) mod P with P = 2^31−1; bucket = md5 hex
  * of the band's minima joined by "," as decimal strings. Fewer than
  * `shingleSize` words → empty array (the caller's explode drops the
  * row, matching the old size(__gs) > 0 filter). */
case class LshBands(child: Expression, shingleSize: Int, numPerms: Int,
    rowsPerBand: Int) extends UnaryExpression {
  require(numPerms % rowsPerBand == 0,
    s"numPerms ($numPerms) must be divisible by rowsPerBand ($rowsPerBand)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bands requires array<string> words, got $other")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "lsh_bands"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    LshBands.bandsOf(input.asInstanceOf[ArrayData], shingleSize, numPerms,
      rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.LshBands.bandsOf(
         |  $c, $shingleSize, $numPerms, $rowsPerBand);
       """.stripMargin
    })
}

object LshBands {
  private val P = graft.dedup.Dedup.P
  private val HEX = "0123456789abcdef".toCharArray

  /** One flat pass: distinct k-gram hashes → perm minima → band
    * buckets. */
  def bandsOf(words: ArrayData, k: Int, numPerms: Int,
      rowsPerBand: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[String]()
    val mins = Array.fill(numPerms)(Long.MaxValue)
    val as = Array.tabulate(numPerms)(p => (2L * (p + 1) + 1))
    val bs = Array.tabulate(numPerms)(p => (7919L * (p + 1)) % P)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      val gram = sb.toString
      if (seen.add(gram)) {
        val h = BigramScore.bucket(gram, 1 << 30)
        var p = 0
        while (p < numPerms) {
          val v = (as(p) * h + bs(p)) % P
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](numPerms / rowsPerBand)
    var b = 0
    while (b < out.length) {
      sb.setLength(0)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = InternalRow(b, UTF8String.fromString(hexMd5(md, sb.toString)))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** The 32-hex md5 band key. */
  private def hexMd5(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cs = new Array[Char](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = HEX((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  /** Column wrapper (Spark 4 classic API via [[GraftBridge]]). */
  def apply(c: Column, shingleSize: Int, numPerms: Int,
      rowsPerBand: Int): Column =
    GraftBridge.column(LshBands(GraftBridge.expression(c), shingleSize,
      numPerms, rowsPerBand))
}
