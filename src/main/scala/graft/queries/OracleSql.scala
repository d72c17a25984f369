package graft.queries

/** DuckDB mirrors of the engine kernels that many oracle SQL strings
  * share: one definition per kernel, so two oracles of the same kernel
  * cannot drift apart. */
private[queries] object OracleSql {

  /** The non-empty `[a-z0-9]` runs of `lower(e)`: the mirror of
    * [[graft.functions.TokenArray.asciiTokens]]. */
  def asciiWordsSql(e: String): String =
    s"list_filter(string_split_regex(lower($e), '[^a-z0-9]+'), w -> w <> '')"

  /** The non-empty `[a-zà-ÿ0-9]` runs of `lower(e)`: the mirror of
    * [[graft.functions.TokenArray]]. */
  def wordsSql(e: String): String =
    s"list_filter(string_split_regex(lower($e), '[^a-zà-ÿ0-9]+'), w -> w <> '')"

  /** The first 15 hex digits of md5(e) as an unsigned 60-bit integer:
    * the mirror of [[graft.functions.Md5]]'s prefix. */
  def md5U60Sql(e: String): String = s"('0x' || substr(md5($e), 1, 15))::UBIGINT"

  /** [[md5U60Sql]] as a BIGINT (non-negative: it has 60 bits). */
  def md5LongSql(e: String): String = s"${md5U60Sql(e)}::BIGINT"

  /** The md5 bucket pmod(md5Long(e), m). */
  def md5BucketSql(e: String, m: Long): String = s"(${md5U60Sql(e)} % $m)::BIGINT"

  /** The unrounded t2 quality score over its five DOUBLE inputs — the
    * [[graft.text.TextAnalysis.qualityScore]] mirror, term by term and
    * with the same parenthesization. The script-aware mirror of
    * [[graft.text.ScriptText.qualityE4]] substitutes its inputs. */
  def qualitySql(len: String, alpha: String, punct: String, digits: String,
      nTok: String): String =
    s"""(
       |  (CASE WHEN $len >= 200 AND $len <= 20000 THEN 1.0
       |        WHEN $len < 200 THEN $len / 200.0
       |        ELSE 20000.0 / $len END) * 0.3
       |  + (CASE WHEN $len > 0 THEN $alpha / $len ELSE 0.0 END) * 0.3
       |  + (CASE WHEN $nTok > 0 THEN
       |       CASE WHEN $alpha / $nTok >= 3 AND $alpha / $nTok <= 10
       |            THEN 1.0 ELSE 0.5 END
       |     ELSE 0.0 END) * 0.2
       |  + (1.0 - LEAST((CASE WHEN $len > 0 THEN $punct / $len ELSE 1.0 END) * 5, 1.0)) * 0.1
       |  + (1.0 - LEAST((CASE WHEN $len > 0 THEN $digits / $len ELSE 1.0 END) * 5, 1.0)) * 0.1
       |)""".stripMargin

  /** MinHash signature rows (id, perm_id, min_hash) over a
    * (doc_id, h) CTE named `hashes` of 30-bit gram hashes: one
    * per-permutation MIN per [[graft.dedup.Dedup.perm]] entry — the
    * mirror of [[graft.dedup.Dedup.minhashSignatures]]. */
  def minhashSigsSql(hashes: String, numPerms: Int): String = {
    val p = graft.dedup.Dedup.P
    graft.dedup.Dedup.perm(numPerms).zipWithIndex.map { case ((a, b), i) =>
      s"SELECT doc_id AS id, $i AS perm_id, MIN(($a * h + $b) % $p) AS min_hash FROM $hashes GROUP BY doc_id"
    }.mkString("\nUNION ALL\n")
  }

  /** (id, band, bucket) rows of a signature relation `sigs`: md5 of
    * each band's minima joined by "," in perm order — the mirror of
    * [[graft.functions.LshBands]]. */
  def lshBucketsSql(sigs: String, rowsPerBand: Int): String =
    s"""SELECT id, perm_id // $rowsPerBand AS band,
       |    md5(string_agg(min_hash::VARCHAR, ',' ORDER BY perm_id)) AS bucket
       |  FROM $sigs GROUP BY id, perm_id // $rowsPerBand""".stripMargin

  /** The `sigs` and `bands` CTEs over the hashes CTE `hashes`. */
  def lshBandsSql(hashes: String, numPerms: Int, rowsPerBand: Int): String =
    s"""sigs AS (${minhashSigsSql(hashes, numPerms)}),
       |bands AS (
       |  ${lshBucketsSql("sigs", rowsPerBand)})""".stripMargin

  /** e·F of ⌊log2 q⌋ for q ∈ [1, 2³⁰]: the CASE-ladder mirror of
    * [[graft.text.LanguageModel]]'s `eF`. */
  def eFSql(q: String): String = "CASE " + graft.text.LanguageModel.ladder
    .map { case (thr, ef, _) => s"WHEN $q >= $thr THEN $ef" }
    .mkString(" ") + " ELSE 0 END"

  /** 2^⌊log2 q⌋ for q ∈ [1, 2³⁰]: the mirror of
    * [[graft.text.LanguageModel]]'s `pow2`. */
  def pow2Sql(q: String): String = "CASE " + graft.text.LanguageModel.ladder
    .map { case (thr, _, p) => s"WHEN $q >= $thr THEN $p" }
    .mkString(" ") + " ELSE 1 END"

  /** 31·F − e·F − ⌊q·F / 2ᵉ⌋: the mirror of
    * [[graft.text.LanguageModel.nllFp]]. */
  def nllFpSql(q: String): String = {
    val f = graft.text.LanguageModel.F
    s"${31L * f} - (${eFSql(q)}) - (($q * $f) // (${pow2Sql(q)}))"
  }
}
