package graft.queries

import graft.Tables
import graft.functions.BigramScore
import graft.text.{Sampling, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Correctness-gate queries for text analysis (language ID, quality
  * scoring, token stats, fingerprinting). */
object TextQueries {

  private[queries] val WS = "list_filter(string_split_regex(lower(text), '[^a-zà-ÿ0-9]+'), w -> w <> '')"

  // ---- t1: language identification -------------------------------------

  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId("text").as("lang_pred"))
      .orderBy("doc_id")

  val langIdSql: String =
    s"""WITH ${Scripts.langIdCteSql("documents")}
       |SELECT doc_id, script AS lang_pred FROM lid ORDER BY doc_id""".stripMargin

  // ---- t2: quality scores ----------------------------------------------

  /** Half-up rounding spelled as floor(x·10⁴ + ½)/10⁴ instead of
    * round(x, 4): every step is an exactly-specified IEEE-754 op on a
    * bit-identical input, so Spark and DuckDB cannot disagree at
    * .xxxx5 boundaries (Spark rounds the double's shortest decimal
    * repr, DuckDB rounds x·10⁴ — they split on raw scores within one
    * ulp of a boundary; 4 docs at sf0.1 did exactly that). */
  private[graft] def round4(x: Column): Column =
    floor(x * 10000d + 0.5d) / 10000d

  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        round4(TextAnalysis.qualityScore("text")).as("quality"))
      .orderBy("doc_id")

  /** The raw (pre-rounding) quality expression — mirrors
    * TextAnalysis.qualityScore term by term, same parenthesization.
    * Shared by t2 (rounded score) and t21 (fixed-point order key). */
  private[queries] val rawQualitySql: String = {
    val len = "CAST(LENGTH(text) AS DOUBLE)"
    val alpha = "CAST(LENGTH(regexp_replace(text, '[^A-Za-zà-ÿ]', '', 'g')) AS DOUBLE)"
    val digits = "CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    val punct = "CAST(LENGTH(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)"
    val nTok = s"CAST(len($WS) AS DOUBLE)"
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
  }

  val qualitySql: String =
    s"""SELECT doc_id, FLOOR($rawQualitySql * 10000 + 0.5) / 10000.0 AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t3: token statistics --------------------------------------------

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount("text").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    s"""SELECT doc_id, len($WS)::BIGINT AS n_tokens,
       |  LENGTH(text)::BIGINT AS n_chars_actual
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t4: document fingerprints ---------------------------------------

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.load(spark, dir, "documents"), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val fingerprintsSql: String = {
    val ws4 = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    s"""WITH g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws4) - 2, 1)),
       |    i -> $ws4[i] || ' ' || $ws4[i+1] || ' ' || $ws4[i+2] || ' ' || $ws4[i+3])) AS g
       |  FROM documents WHERE len($ws4) >= 4),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0)
       |SELECT doc_id, MIN(('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS fingerprint
       |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t5: OOV tokens (spell-check stand-in, P9) -----------------------

  def oovTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovTokens(Tables.load(spark, dir, "documents"),
        "text", "doc_id", minDocFreq = 3)
      .orderBy("word")

  val oovTokensSql: String =
    s"""WITH words0 AS (SELECT doc_id, unnest($WS) AS word FROM documents),
       |words AS (SELECT DISTINCT doc_id, word FROM words0)
       |SELECT word, COUNT(*) AS n_docs FROM words
       |GROUP BY word HAVING COUNT(*) < 3
       |ORDER BY word""".stripMargin

  // ---- t6: typo-conflict pairs (F12 levenshtein) -----------------------

  def typoPairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.typoPairs(Tables.load(spark, dir, "part"), "p_name",
        maxDist = 2)
      .orderBy("value_a", "value_b")

  val typoPairsSql: String =
    """WITH v AS (
      |  SELECT DISTINCT p_name AS v FROM part
      |  WHERE p_name IS NOT NULL AND p_name <> '')
      |SELECT a.v AS value_a, b.v AS value_b,
      |  levenshtein(a.v, b.v) AS distance
      |FROM v a JOIN v b
      |  ON a.v < b.v AND abs(length(a.v) - length(b.v)) <= 2
      |WHERE levenshtein(a.v, b.v) <= 2
      |ORDER BY value_a, value_b""".stripMargin

  // ---- t7: token-window chunking -----------------------------------------

  def chunks(spark: SparkSession, dir: String): DataFrame =
    graft.text.Chunking.tokenChunks(Tables.load(spark, dir, "documents"),
        "doc_id", "text", window = 32, step = 24)
      .orderBy("doc_id", "token_start")

  /** Mirror of Chunking.tokenChunks: \S+ tokens, starts every 24,
    * 1-based inclusive 32-token slices truncating at the tail.
    * The WITH body is shared with the t9 packing oracle. */
  private val chunksSqlBody: String =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |starts AS (
      |  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS token_start
      |  FROM toks WHERE len(t) > 0),
      |chunks AS (
      |  SELECT doc_id, CAST(token_start AS INT) AS token_start,
      |    CAST(len(t[token_start + 1 : token_start + 32]) AS INT) AS n_tokens,
      |    array_to_string(t[token_start + 1 : token_start + 32], ' ') AS chunk
      |  FROM starts)""".stripMargin

  val chunksSql: String =
    s"""WITH $chunksSqlBody
       |SELECT doc_id, token_start, n_tokens, chunk
       |FROM chunks ORDER BY doc_id, token_start""".stripMargin

  // ---- t8: per-language quota sample --------------------------------------

  def langQuota(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.quotaSample(Tables.load(spark, dir, "documents"),
        "lang", "doc_id", quota = 50)
      .select("lang", "doc_id", "sample_rank")
      .orderBy("lang", "sample_rank")

  val langQuotaSql: String =
    """SELECT lang, doc_id, CAST(rk AS INT) AS sample_rank FROM (
      |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= 50 ORDER BY lang, sample_rank""".stripMargin

  // ---- t9: sequence packing into fixed-token bins --------------------------

  def packed(spark: SparkSession, dir: String): DataFrame =
    graft.text.Packing.packChunks(
        graft.text.Chunking.tokenChunks(Tables.load(spark, dir, "documents"),
          "doc_id", "text", window = 32, step = 24),
        "doc_id", "token_start", "n_tokens", seqLen = 512)
      .orderBy("doc_id", "token_start")

  /** Packing over the t7 chunk stream: running token count in
    * (doc_id, token_start) order, bin split at 512 — the exact
    * integer arithmetic of Packing.packChunks. */
  val packedSql: String =
    s"""WITH $chunksSqlBody,
       |c2 AS (
       |  SELECT doc_id, token_start, n_tokens,
       |    CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id, token_start
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS before
       |  FROM chunks)
       |SELECT doc_id, token_start, n_tokens,
       |  CAST((before - before % 512) / 512 AS BIGINT) AS bin_id,
       |  before % 512 AS bin_offset
       |FROM c2 ORDER BY doc_id, token_start""".stripMargin

  // ---- t10: materialized bin segments -------------------------------------

  def binSegments(spark: SparkSession, dir: String): DataFrame =
    graft.text.Packing.binSegments(
        graft.text.Chunking.tokenChunks(Tables.load(spark, dir, "documents"),
          "doc_id", "text", window = 32, step = 24),
        "doc_id", "token_start", "n_tokens", seqLen = 512)
      .orderBy("bin_id", "seq")

  /** Mirror of Packing.binSegments over the t7 chunk stream: each
    * chunk's global span [before, before+n) split at 512-token bin
    * boundaries via generate_series over the covered bins. */
  val binSegmentsSql: String =
    s"""WITH $chunksSqlBody,
       |c2 AS (
       |  SELECT doc_id, token_start, n_tokens,
       |    CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id, token_start
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS before
       |  FROM chunks WHERE n_tokens > 0),
       |segs AS (
       |  SELECT doc_id, token_start, n_tokens, before,
       |    unnest(generate_series(
       |      CAST((before - before % 512) / 512 AS BIGINT),
       |      CAST(((before + n_tokens - 1) - (before + n_tokens - 1) % 512) / 512 AS BIGINT)))
       |      AS bin_id
       |  FROM c2)
       |SELECT bin_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY bin_id
       |    ORDER BY GREATEST(before, bin_id * 512)) AS BIGINT) AS seq,
       |  doc_id,
       |  CAST(token_start AS BIGINT) + GREATEST(before, bin_id * 512) - before
       |    AS token_start,
       |  LEAST(before + n_tokens, (bin_id + 1) * 512)
       |    - GREATEST(before, bin_id * 512) AS token_len
       |FROM segs ORDER BY bin_id, seq""".stripMargin

  // ---- t11: temperature-weighted sampling ----------------------------------

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.temperatureSample(
        Tables.load(spark, dir, "documents"), "lang", "doc_id")
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** Mirror of Sampling.temperatureSample: exact counts →
    * p = sqrt(n_min/n) (division and sqrt are correctly rounded IEEE
    * ops in both engines) → integer threshold ⌊p·2^60⌋ against the
    * 60-bit md5 prefix of the id. */
  val weightedSampleSql: String =
    """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      |mn AS (SELECT MIN(n) AS n_min FROM counts),
      |probs AS (
      |  SELECT lang,
      |    CAST(FLOOR(LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 1.0)
      |      * 1152921504606846976.0) AS BIGINT) AS thr
      |  FROM counts, mn)
      |SELECT d.lang, d.doc_id
      |FROM documents d JOIN probs p ON d.lang = p.lang
      |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT < p.thr
      |ORDER BY d.lang, d.doc_id""".stripMargin

  // ---- t12: PII-style redaction -------------------------------------------

  /** Deterministically plant an email (every 7th doc) and a long
    * account-style number (every 11th doc), then redact both pattern
    * families and emit the match counts plus the md5 of the scrubbed
    * text — the hash pins every replacement byte-for-byte. */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text2",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact doc"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" ref "), lit(9000000000L) + col("doc_id")))
            .otherwise(lit(""))))
    graft.text.TextAnalysis.redact(docs, "text2", "doc_id")
      .select(col("id"), col("n_email"), col("n_number"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("id")
  }

  val redactSql: String =
    """WITH planted AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' contact doc' || doc_id || '@example.com' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN ' ref ' || (9000000000 + doc_id) ELSE '' END AS text2
      |  FROM documents)
      |SELECT doc_id AS id,
      |  len(regexp_extract_all(text2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::INT AS n_email,
      |  len(regexp_extract_all(text2, '\d{6,}'))::INT AS n_number,
      |  md5(regexp_replace(regexp_replace(text2,
      |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |    '\d{6,}', '<NUM>', 'g')) AS redacted_md5
      |FROM planted ORDER BY id""".stripMargin

  // ---- t13: Gopher-style repetition metrics ----------------------------

  /** Per-document repetition signals (top-word / top-bigram /
    * duplicated-trigram fractions), round4'd for cross-engine parity. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis
      .repetitionMetrics(Tables.load(spark, dir, "documents"), "text", "doc_id")
      .select(col("id").as("doc_id"),
        round4(col("top_word_frac")).as("top_word_frac"),
        round4(col("top_bigram_frac")).as("top_bigram_frac"),
        round4(col("dup_trigram_frac")).as("dup_trigram_frac"))
      .orderBy("doc_id")

  val repetitionSql: String =
    s"""WITH toks AS (SELECT doc_id, $WS AS ts FROM documents),
       |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM toks),
       |grams AS (
       |  SELECT doc_id, 1 AS n, ts[i] AS g FROM pos
       |  UNION ALL
       |  SELECT doc_id, 2, ts[i] || ' ' || ts[i+1] FROM pos WHERE i <= len(ts) - 1
       |  UNION ALL
       |  SELECT doc_id, 3, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
       |  FROM pos WHERE i <= len(ts) - 2),
       |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
       |agg AS (SELECT doc_id, n, sum(c) AS total, max(c) AS top,
       |          coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup
       |        FROM cnt GROUP BY 1, 2),
       |fracs AS (SELECT doc_id,
       |  max(CASE WHEN n = 1 THEN CAST(top AS DOUBLE) / CAST(total AS DOUBLE) END) AS f1,
       |  max(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / CAST(total AS DOUBLE) END) AS f2,
       |  max(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) END) AS f3
       |  FROM agg GROUP BY 1)
       |SELECT d.doc_id,
       |  FLOOR(coalesce(f1, 0.0) * 10000 + 0.5) / 10000 AS top_word_frac,
       |  FLOOR(coalesce(f2, 0.0) * 10000 + 0.5) / 10000 AS top_bigram_frac,
       |  FLOOR(coalesce(f3, 0.0) * 10000 + 0.5) / 10000 AS dup_trigram_frac
       |FROM documents d LEFT JOIN fracs USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- t14: subword token accounting ------------------------------------

  /** Whitespace vs greedy-vocab subword counts side by side — the
    * TokenCounter option every token-mass consumer (t7/t9/s7) can swap
    * in; the oracle replays the greedy longest-match walk as a
    * recursive CTE over the distinct words. */
  def subwordTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"),
        graft.text.WhitespaceTokenCounter.count(col("text")).as("n_tokens"),
        graft.text.VocabTokenCounter.count(col("text")).as("n_pieces"))
      .orderBy("doc_id")
  }

  val subwordTokensSql: String =
    s"""WITH RECURSIVE words0 AS (
       |  SELECT doc_id, unnest($WS) AS w FROM documents),
       |dw AS (SELECT DISTINCT w FROM words0 WHERE w <> ''),
       |walk AS (
       |  SELECT w, 1 AS pos, 0::BIGINT AS cnt FROM dw
       |  UNION ALL
       |  SELECT w, pos + ${graft.text.VocabTokenCounter.sqlStepCase}, cnt + 1
       |  FROM walk WHERE pos <= length(w)),
       |pieces AS (SELECT w, MAX(cnt) AS np FROM walk GROUP BY w),
       |perdoc AS (
       |  SELECT doc_id, SUM(np) AS n_pieces
       |  FROM words0 JOIN pieces USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, len($WS)::BIGINT AS n_tokens,
       |  COALESCE(p.n_pieces, 0)::BIGINT AS n_pieces
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- t15: character-trigram familiarity (rare-ngram quality signal) ----

  def trigramFamiliarity(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis
      .trigramFamiliarity(Tables.load(spark, dir, "documents"), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val trigramFamiliaritySql: String =
    """WITH tris0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(lower(text)) - 1),
      |    i -> substr(lower(text), i, 3))) AS tri
      |  FROM documents WHERE length(lower(text)) >= 3),
      |tris AS (SELECT DISTINCT doc_id, tri FROM tris0),
      |dfreq AS (SELECT tri, COUNT(*) AS df FROM tris GROUP BY tri),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n,
      |    CAST(SUM(df) AS DOUBLE) / COUNT(*) AS fam
      |  FROM tris JOIN dfreq USING (tri) GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(p.n, 0)::BIGINT AS n_trigrams,
      |  p.fam AS familiarity
      |FROM documents d LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- t16: deterministic train/val/test split ---------------------------

  private val SplitFractions =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.splitAssign(
        Tables.load(spark, dir, "documents"), "doc_id", SplitFractions)
      .select("doc_id", "split")
      .orderBy("doc_id")

  val datasetSplitSql: String = {
    val thr = graft.text.Sampling.splitThresholds(SplitFractions)
    s"""SELECT doc_id,
       |  CASE WHEN h < ${thr(0)} THEN 'train'
       |       WHEN h < ${thr(1)} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- t17: subword-grain chunking ---------------------------------------

  /** Chunk windows measured in VocabTokenCounter PIECES (16-piece
    * windows every 12 pieces) mapped back to covering word spans — the
    * t7 chunker at the grain a sequence budget actually uses. Oracle:
    * the t14 recursive-CTE piece walk, a per-doc prefix-sum window, and
    * the covering-span aggregation. */
  def pieceChunks(spark: SparkSession, dir: String): DataFrame =
    graft.text.Chunking.pieceChunks(
        Tables.load(spark, dir, "documents"), "doc_id", "text",
        window = 16, step = 12)
      .orderBy("doc_id", "piece_start")

  // ---- t18: BPE merge training --------------------------------------

  /** The canonical tokenizer-training job: learn the 12 most frequent
    * adjacent-piece merges from the documents corpus
    * ([[graft.text.BpeTrainer.trainMergesLocal]] — ONE distributed
    * weighted word-count aggregation, then the driver-local heap merge
    * loop; BpeLocalSpec pins it ≡ the distributed round-per-merge
    * formulation, whose semantics this oracle replays). Oracled since
    * the merge count is a FIXED parameter: the oracle unrolls the 12
    * data-dependent rounds as chained CTEs (argmax → greedy merge
    * application via run-parity islands → next round's pair counts),
    * replaying the training loop exactly. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.text.BpeTrainer
      .trainMergesLocal(Tables.load(spark, dir, "documents"), "text", numMerges = 12)
      .toDF("rank", "piece_left", "piece_right", "freq")
      .orderBy("rank")
  }

  /** 12 unrolled BPE rounds. Per round r (state s{r-1} = one row per
    * DISTINCT word: immutable key w, corpus frequency n, piece list p):
    *  - pair{r}: adjacent-piece counts weighted by n;
    *  - best{r}: the argmax merge (c DESC, l, r lexicographic — the
    *    trainer's exact tie order), minFreq ≥ 2;
    *  - e/mm/isl{r}: positions, match flags, and gaps-and-islands run
    *    parity — greedy left-to-right pairing merges positions at even
    *    offsets within each run of consecutive matches (runs longer
    *    than 1 only occur when l = r, where chaining must alternate);
    *  - s{r}: the rebuilt piece lists (merge starts become l||r, the
    *    consumed right neighbors drop).
    * An exhausted corpus (best{r} empty) empties every later round's
    * state and output rows — the trainer's early stop, same rows. */
  /** The shared replay chain: s0..s{numMerges} word states and
    * out1..out{numMerges} merge rows. The state join to best$r is a
    * LEFT JOIN ON TRUE (not CROSS) so an exhausted corpus (best$r
    * empty) carries s{r} = s{r-1} forward unchanged — out rows stay
    * empty either way (pair counts are unchanged on a carried state,
    * so the argmax stays below minFreq forever: the trainer's hard
    * stop), but the FINAL state remains the true encode table, which
    * t25 consumes. */
  private def bpeChainSql(numMerges: Int): String = {
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""pair$r AS (
         |  SELECT p[i] AS l, p[i + 1] AS r2, CAST(SUM(n) AS BIGINT) AS c
         |  FROM (SELECT n, p, unnest(range(1, len(p))) AS i FROM $prev)
         |  GROUP BY 1, 2),
         |best$r AS MATERIALIZED (SELECT l, r2, c FROM pair$r WHERE c >= 2
         |           ORDER BY c DESC, l, r2 LIMIT 1),
         |out$r AS (SELECT $r AS "rank", l AS piece_left, r2 AS piece_right,
         |                 c AS freq FROM best$r),
         |e$r AS MATERIALIZED (
         |  SELECT w, n, p, CAST(i AS INTEGER) AS i, p[i] AS pc
         |  FROM (SELECT w, n, p, unnest(range(1, len(p) + 1)) AS i FROM $prev)),
         |mm$r AS (
         |  SELECT e.w, e.i
         |  FROM e$r e, best$r b
         |  WHERE e.i < len(e.p) AND e.pc = b.l AND e.p[e.i + 1] = b.r2),
         |isl$r AS (
         |  SELECT w, i,
         |    i - CAST(row_number() OVER (PARTITION BY w ORDER BY i) AS INTEGER)
         |      AS island
         |  FROM mm$r),
         |st$r AS (
         |  SELECT w, i FROM (
         |    SELECT w, i,
         |      MIN(i) OVER (PARTITION BY w, island) AS first
         |    FROM isl$r)
         |  WHERE (i - first) % 2 = 0),
         |s$r AS MATERIALIZED (
         |  SELECT e.w, ANY_VALUE(e.n) AS n,
         |    list(CASE WHEN st.i IS NOT NULL THEN b.l || b.r2 ELSE e.pc END
         |         ORDER BY e.i) AS p
         |  FROM e$r e
         |  LEFT JOIN best$r b ON TRUE
         |  LEFT JOIN st$r st ON e.w = st.w AND e.i = st.i
         |  LEFT JOIN st$r c ON e.w = c.w AND e.i = c.i + 1
         |  WHERE c.i IS NULL
         |  GROUP BY e.w)""".stripMargin
    }
    s"""s0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
       |    list_transform(range(1, length(w) + 1),
       |      i -> substr(w, CAST(i AS INTEGER), 1)) AS p
       |  FROM (SELECT unnest($WS) AS w FROM documents)
       |  GROUP BY w),
       |${(1 to numMerges).map(round).mkString(",\n")}""".stripMargin
  }

  val bpeMergesSql: String = {
    val numMerges = 12
    s"""WITH ${bpeChainSql(numMerges)}
       |SELECT * FROM (${(1 to numMerges).map(r => s"SELECT * FROM out$r")
           .mkString("\nUNION ALL\n")})
       |ORDER BY "rank"""".stripMargin
  }

  // ---- t25: encode the corpus with its own trained tokenizer ---------

  /** The consumer half of the t18 train → encode loop: learn the 12
    * merges, then encode EVERY document with them
    * ([[graft.text.BpeTokenCounter]]) — per-doc word and piece counts,
    * the numbers a pipeline needs to budget sequence packing under the
    * tokenizer it just trained. Training reduces the corpus once to
    * the distinct-word frame; encoding is a pure map-side fold per row
    * (no shuffle, stream-safe — the same operator runs unchanged in an
    * append-mode stream once the merge table is collected). */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val merges = graft.text.BpeTrainer
      .trainMergesLocal(docs, "text", numMerges = 12)
      .map(m => (m._2, m._3))
    val counter = graft.text.BpeTokenCounter(merges)
    docs.select(col("doc_id"),
        size(graft.text.BpeTrainer.words(col("text"))).cast("long")
          .as("n_words"),
        counter.count(col("text")).as("n_pieces"))
      .orderBy("doc_id")
  }

  /** Replays the t18 training chain (shared CTEs), then reads each
    * word's piece count off the FINAL state s12 — the early-stop-robust
    * chain makes s12 the true encode table even if training exhausts
    * before 12 merges. */
  val bpeEncodeSql: String =
    s"""WITH ${bpeChainSql(12)},
       |docw AS (SELECT doc_id, unnest($WS) AS w FROM documents),
       |plen AS (SELECT w, CAST(len(p) AS BIGINT) AS np FROM s12),
       |perdoc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(np) AS BIGINT) AS n_pieces
       |  FROM docw JOIN plen USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_words, 0)::BIGINT AS n_words,
       |  coalesce(n_pieces, 0)::BIGINT AS n_pieces
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- t31: per-language tokenizer fertility --------------------------

  /** Tokenizer EVALUATION at language grain — the standard vocab-
    * allocation diagnostic (a tokenizer trained on a mixed corpus is
    * dominated by its majority language; fertility — pieces per word —
    * degrades on the underrepresented ones, directly inflating their
    * effective sequence cost). Trains the t18 merge table on the full
    * corpus, encodes every document with it ([[graft.text
    * .BpeTokenCounter]], map-side), and rolls up per language: doc /
    * word / char / piece sums (exact integers) plus fertility and
    * chars-per-piece ratios. One groupBy(lang) — output is
    * language-cardinality sized. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val merges = graft.text.BpeTrainer
      .trainMergesLocal(docs, "text", numMerges = 12)
      .map(m => (m._2, m._3))
    val counter = graft.text.BpeTokenCounter(merges)
    val ws = graft.text.BpeTrainer.words(col("text"))
    docs.select(col("lang"), size(ws).cast("long").as("__w"),
        aggregate(transform(ws, w => length(w).cast("long")),
          lit(0L), (a, b) => a + b).as("__c"),
        counter.count(col("text")).as("__p"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("__w").as("n_words"),
        sum("__c").as("n_chars"), sum("__p").as("n_pieces"))
      .withColumn("fertility", round(
        col("n_pieces").cast("double") / col("n_words").cast("double"), 6))
      .withColumn("chars_per_piece", round(
        col("n_chars").cast("double") / col("n_pieces").cast("double"), 6))
      .orderBy("lang")
  }

  /** Replays the shared t18 chain, reads per-word piece counts off the
    * final state, and rolls the encode up per language. */
  val tokenizerFertilitySql: String =
    s"""WITH ${bpeChainSql(12)},
       |docw AS (SELECT doc_id, unnest($WS) AS w FROM documents),
       |plen AS (SELECT w, CAST(len(p) AS BIGINT) AS np FROM s12),
       |perdoc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_w,
       |    CAST(SUM(length(w)) AS BIGINT) AS n_c,
       |    CAST(SUM(np) AS BIGINT) AS n_p
       |  FROM docw JOIN plen USING (w) GROUP BY doc_id)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(coalesce(n_w, 0)) AS BIGINT) AS n_words,
       |  CAST(SUM(coalesce(n_c, 0)) AS BIGINT) AS n_chars,
       |  CAST(SUM(coalesce(n_p, 0)) AS BIGINT) AS n_pieces,
       |  ROUND(CAST(SUM(coalesce(n_p, 0)) AS DOUBLE)
       |    / CAST(SUM(coalesce(n_w, 0)) AS DOUBLE), 6) AS fertility,
       |  ROUND(CAST(SUM(coalesce(n_c, 0)) AS DOUBLE)
       |    / CAST(SUM(coalesce(n_p, 0)) AS DOUBLE), 6) AS chars_per_piece
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin

  val pieceChunksSql: String =
    s"""WITH RECURSIVE rtoks AS (
       |  SELECT doc_id, $WS AS ts FROM documents WHERE len($WS) > 0),
       |wi AS (
       |  SELECT doc_id, ts, CAST(i AS BIGINT) AS i, ts[i] AS w
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM rtoks)),
       |dw AS (SELECT DISTINCT w FROM wi),
       |walk AS (
       |  SELECT w, 1 AS pos, 0::BIGINT AS cnt FROM dw
       |  UNION ALL
       |  SELECT w, pos + ${graft.text.VocabTokenCounter.sqlStepCase}, cnt + 1
       |  FROM walk WHERE pos <= length(w)),
       |pieces AS (SELECT w, MAX(cnt) AS np FROM walk GROUP BY w),
       |wcum AS (
       |  SELECT wi.doc_id, wi.i, p.np,
       |    CAST(SUM(p.np) OVER (PARTITION BY wi.doc_id ORDER BY wi.i
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - p.np AS cumb
       |  FROM wi JOIN pieces p USING (w)),
       |totals AS (SELECT doc_id, CAST(SUM(np) AS BIGINT) AS p FROM wcum GROUP BY doc_id),
       |chnk AS (
       |  SELECT doc_id, p, CAST(unnest(range(0, p, 12)) AS BIGINT) AS piece_start
       |  FROM totals),
       |spans AS (
       |  SELECT c.doc_id, c.piece_start,
       |    CAST(LEAST(16, c.p - c.piece_start) AS BIGINT) AS n_pieces,
       |    MAX(CASE WHEN w.cumb <= c.piece_start THEN w.i END) AS ws_i,
       |    MAX(CASE WHEN w.cumb <= LEAST(c.piece_start + 16, c.p) - 1 THEN w.i END) AS we_i
       |  FROM chnk c JOIN wcum w USING (doc_id)
       |  GROUP BY c.doc_id, c.piece_start, c.p)
       |SELECT s.doc_id, s.piece_start, s.n_pieces,
       |  CAST(s.ws_i - 1 AS BIGINT) AS word_start,
       |  CAST(s.we_i - s.ws_i + 1 AS BIGINT) AS n_words,
       |  array_to_string(r.ts[s.ws_i : s.we_i], ' ') AS chunk
       |FROM spans s JOIN rtoks r USING (doc_id)
       |ORDER BY doc_id, piece_start""".stripMargin

  // ---- t20: cross-split bigram familiarity ------------------------------

  /** t16's deterministic split, then every val/test document scored by
    * train-split bigram coverage. */
  def crossSplitFamiliarity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.crossSplitFamiliarity(
        graft.text.Sampling.splitAssign(
          Tables.load(spark, dir, "documents"), "doc_id", SplitFractions),
        "text", "doc_id", "split")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val crossSplitFamiliaritySql: String = {
    val thr = graft.text.Sampling.splitThresholds(SplitFractions)
    s"""WITH sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN h < ${thr(0)} THEN 'train'
       |         WHEN h < ${thr(1)} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id, text,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
       |    FROM documents)),
       |b0 AS (
       |  SELECT doc_id, split, unnest(list_transform(range(1, len($WS)),
       |    i -> $WS[i] || ' ' || $WS[i+1])) AS bigram
       |  FROM sp WHERE len($WS) >= 2),
       |bi AS (SELECT DISTINCT doc_id, split, bigram FROM b0),
       |tdf AS (
       |  SELECT bigram, COUNT(*) AS tdf FROM bi WHERE split = 'train'
       |  GROUP BY bigram)
       |SELECT b.doc_id, b.split,
       |  COUNT(*) AS n_bigrams,
       |  CAST(SUM(CASE WHEN t.tdf IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       |  CAST(SUM(COALESCE(t.tdf, 0)) AS BIGINT) AS train_mass,
       |  CAST(SUM(CASE WHEN t.tdf IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS seen_frac
       |FROM bi b LEFT JOIN tdf t USING (bigram)
       |WHERE b.split <> 'train'
       |GROUP BY b.doc_id, b.split
       |ORDER BY b.doc_id""".stripMargin
  }

  // ---- t19: TF-IDF keywords --------------------------------------------

  /** Top-5 TF-IDF keywords per document (raw-ratio idf, score as exact
    * ×10⁶ integer, ties → lexicographic word). */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywords(
        Tables.load(spark, dir, "documents"), "text", "doc_id", k = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "kw_rank")

  val tfidfKeywordsSql: String =
    s"""WITH words AS (SELECT doc_id, unnest($WS) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
       |dfreq AS (SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, word, tf, doc_freq,
       |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE) AS s
       |  FROM tf JOIN dfreq USING (word), n),
       |ranked AS (
       |  SELECT doc_id, word, tf, doc_freq, s,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, word) AS kw_rank
       |  FROM scored)
       |SELECT doc_id, word, tf, doc_freq,
       |  CAST(FLOOR(s * 1000000 + 0.5) AS BIGINT) AS score_e6, kw_rank
       |FROM ranked WHERE kw_rank <= 5 ORDER BY doc_id, kw_rank""".stripMargin

  // ---- t21: budgeted quality-greedy corpus selection ---------------------

  /** Select documents greedily by quality (t2's rounded score as a
    * fixed-point order key, doc_id tie-break) until the running token
    * total reaches half the corpus's tokens — "the best half of the
    * crawl, by token budget". One prefix-sum spine; the oracle replays
    * the identical ordering and budget with a window sum. */
  def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount("text").as("n_tokens"),
        TextAnalysis.qualityE4("text").as("__q"))
    Sampling.budgetSelect(scored, "doc_id", "n_tokens", "__q",
        budgetFraction = 0.5)
      .orderBy("doc_id")
  }

  val budgetSelectSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, CAST(len($WS) AS BIGINT) AS n_tokens,
       |    CAST(FLOOR($rawQualitySql * 10000 + 0.5) AS BIGINT) AS q
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM s),
       |b AS (SELECT CAST(FLOOR(SUM(n_tokens) * 0.5) AS BIGINT) AS budget FROM s)
       |SELECT doc_id, n_tokens, cum AS cum_tokens
       |FROM c, b WHERE cum <= budget ORDER BY doc_id""".stripMargin

  // ---- t22: C4 heuristic cleaning --------------------------------------

  /** Documents recut into planted lines exercising every C4 rule:
    * line 1 keeps (many words + terminal '.'), line 2 drops (no
    * terminal), line 3 drops ('too short.' < 5 words), line 4 keeps
    * when the doc is long enough ('!'); every 6th doc plants a
    * "lorem ipsum" line (doc dropped), every 7th a curly-brace line
    * (doc dropped). [[graft.text.Cleaning.c4Clean]] applies the rule
    * set in one map-side pass. */
  def c4Clean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.select(col("doc_id"),
      concat(
        substring(col("text"), 1, 60), lit(".\n"),
        substring(col("text"), 61, 60), lit("\n"),
        lit("too short.\n"),
        substring(col("text"), 121, 60), lit("!"),
        when(col("doc_id") % 6 === 0, lit("\nthis page is lorem ipsum filler text only."))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 3, lit("\nvar config = { \"mode\": 1 };"))
          .otherwise(lit(""))).as("text"))
    graft.text.Cleaning.c4Clean(planted, "text", "doc_id",
        minLineWords = 5, minKeptLines = 2)
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        col("kept"), col("clean_text"))
      .orderBy("doc_id")
  }

  val c4CleanSql: String = {
    val w4 = "list_filter(string_split_regex(lower(l), '[^a-z0-9]+'), x -> x <> '')"
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    substr(text, 1, 60) || '.' || chr(10) ||
       |    substr(text, 61, 60) || chr(10) ||
       |    'too short.' || chr(10) ||
       |    substr(text, 121, 60) || '!' ||
       |    CASE WHEN doc_id % 6 = 0
       |      THEN chr(10) || 'this page is lorem ipsum filler text only.'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 3
       |      THEN chr(10) || 'var config = { "mode": 1 };'
       |      ELSE '' END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines
       |      FROM planted),
       |k AS (SELECT doc_id, text, lines,
       |        list_filter(lines, l -> len($w4) >= 5
       |          AND right(l, 1) IN ('.', '!', '?', '"')) AS keptl
       |      FROM t)
       |SELECT doc_id, len(lines)::BIGINT AS n_lines,
       |  len(keptl)::BIGINT AS n_kept,
       |  (NOT lower(text) LIKE '%lorem ipsum%'
       |    AND NOT text LIKE '%{%' AND NOT text LIKE '%}%'
       |    AND len(keptl) >= 2) AS kept,
       |  coalesce(array_to_string(keptl, chr(10)), '') AS clean_text
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ---- t23: DSIR-style importance scores -------------------------------

  /** Importance-resampling scores for every document against the
    * English subset as the target corpus
    * ([[graft.text.Importance.importanceScores]], word bigrams):
    * positive score = the doc's bigrams are over-represented in the
    * target — the integer-exact linear form of the DSIR log-ratio. */
  def dsirScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.text.Importance.importanceScores(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id", n = 2)
      .select(col("id").as("doc_id"), col("n_grams"), col("score"))
      .orderBy("doc_id")
  }

  val dsirScoresSql: String = {
    val ws4 = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    s"""WITH t AS (SELECT doc_id, lang, $ws4 AS ws FROM documents),
       |rg AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i + 1])) AS g
       |  FROM t WHERE len(ws) >= 2),
       |cr AS (SELECT g, COUNT(*) AS nr FROM rg GROUP BY g),
       |ct AS (SELECT g, COUNT(*) AS nt FROM rg WHERE lang = 'en' GROUP BY g),
       |tot AS (SELECT (SELECT COUNT(*) FROM rg) AS nr_tot,
       |               (SELECT COUNT(*) FROM rg WHERE lang = 'en') AS nt_tot),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(coalesce(nt, 0) * nr_tot - nr * nt_tot) AS BIGINT) AS score
       |  FROM rg JOIN cr USING (g) LEFT JOIN ct USING (g), tot
       |  GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(score, 0)::BIGINT AS score
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- t24: hashed importance weights (the shipped DSIR model) ----------

  /** The DSIR model in its DEPLOYMENT form: gram→bucket hashed weights
    * (O(buckets), broadcast-able by construction), then every document
    * scored by a pure per-row fold over its gram buckets — the exact
    * operator w12 runs on a stream
    * ([[graft.text.Importance.hashedWeights]] /
    * [[Importance.scoreWithWeights]], 4096 buckets).
    *
    * The raw side trains on ONE crawl shard (source src0) while the
    * target is the full curated English subset — deliberately NOT a
    * subset of raw, the standard deployment (curated target corpus,
    * separate raw pool), so buckets carrying only TARGET mass exist and
    * the full-outer branch of the weight join is exercised cross-engine
    * (a target-subset-of-raw setup can never produce one, which left
    * that branch unit-test-only through round 8). Scoring then covers
    * ALL documents — novel docs against a trained table, the stream
    * shape. */
  def dsirHashedScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val weights = graft.text.Importance.hashedWeights(
      docs.filter(col("source") === "src0"),
      docs.filter(col("lang") === "en"), "text", "doc_id",
      n = 2, buckets = 4096)
    graft.text.Importance.scoreWithWeights(docs, weights, "text", "doc_id",
        n = 2, buckets = 4096)
      .select(col("id").as("doc_id"), col("n_grams"), col("score"))
      .orderBy("doc_id")
  }

  val dsirHashedScoresSql: String = {
    val ws4 = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    val bkt = "(('0x' || substr(md5(g), 1, 15))::UBIGINT % 4096)::BIGINT"
    s"""WITH t AS (SELECT doc_id, lang, source, $ws4 AS ws FROM documents),
       |rg AS (
       |  SELECT doc_id, lang, source,
       |    unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i + 1])) AS g
       |  FROM t WHERE len(ws) >= 2),
       |rb AS (SELECT doc_id, lang, source, $bkt AS b FROM rg),
       |cr AS (SELECT b, COUNT(*) AS nr FROM rb WHERE source = 'src0' GROUP BY b),
       |ct AS (SELECT b, COUNT(*) AS nt FROM rb WHERE lang = 'en' GROUP BY b),
       |tot AS (SELECT (SELECT COUNT(*) FROM rb WHERE source = 'src0') AS nr_tot,
       |               (SELECT COUNT(*) FROM rb WHERE lang = 'en') AS nt_tot),
       |w AS (SELECT b,
       |        CAST(coalesce(nt, 0) * nr_tot - coalesce(nr, 0) * nt_tot
       |          AS BIGINT) AS wt
       |      FROM cr FULL JOIN ct USING (b), tot),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(coalesce(wt, 0)) AS BIGINT) AS score
       |  FROM rb LEFT JOIN w USING (b) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(score, 0)::BIGINT AS score
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- t26: script-aware multilingual text stats -----------------------

  /** Deterministic multilingual derivation of the (all-ASCII) testdata
    * corpus: docs labeled zh/de/es get their letters TRANSLATED into
    * CJK/Cyrillic/Arabic code points (letter→letter, both engines'
    * `translate`), en/fr stay Latin — same word/char structure, real
    * non-Latin scripts. Query scaffolding only: a real crawl arrives
    * already multilingual. */
  private[queries] object Scripts {
    val latin26 = "abcdefghijklmnopqrstuvwxyz"
    val cjk26 = "一二三四五六七八九十百千万上下左右中大小明月日水火木"
    val cyr26 = "абвгдежзийклмнопрстуфхцчшщ"
    val ar26 = "ابتثجحخدذرزسشصضطظعغفقكلمنه"
    /** Devanagari — a real LETTER script the engine does NOT track, so
      * a translated document keeps full quality (letters, word shapes)
      * while `dominantScript` votes 'none': the planted UNSCORABLE
      * population for the l7/w15 LM-gate policy (digit filler would be
      * killed by the quality gate before the policy could bite). */
    val dev26 = "कखगघङचछजझञटठडढणतथदधनपफबभमय"

    /** Translate every tracked-script letter into Devanagari (applied
      * after `lower`); digits/punct/spaces pass through. */
    def toUntracked(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      translate(lower(c), latin26 + cjk26 + cyr26 + ar26,
        dev26 + dev26 + dev26 + dev26)

    /** [[toUntracked]] as a DuckDB expression. */
    def toUntrackedSql(e: String): String =
      s"translate(lower($e), '$latin26$cjk26$cyr26$ar26', " +
        s"'$dev26$dev26$dev26$dev26')"

    def derived(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), col("lang"),
        when(col("lang") === "zh", translate(lower(col("text")), latin26, cjk26))
          .when(col("lang") === "de", translate(lower(col("text")), latin26, cyr26))
          .when(col("lang") === "es", translate(lower(col("text")), latin26, ar26))
          .otherwise(col("text")).as("text2"))

    /** The same derivation as a DuckDB CTE body (docs2(doc_id, lang, text2)). */
    val derivedSql: String =
      s"""docs2 AS (
         |  SELECT doc_id, lang,
         |    CASE lang
         |      WHEN 'zh' THEN translate(lower(text), '$latin26', '$cjk26')
         |      WHEN 'de' THEN translate(lower(text), '$latin26', '$cyr26')
         |      WHEN 'es' THEN translate(lower(text), '$latin26', '$ar26')
         |      ELSE text END AS text2
         |  FROM documents)""".stripMargin

    /** Script-aware token array of a SQL expression (RE2 forms). */
    def toksSql(e: String): String =
      s"list_filter(string_split_regex(lower(regexp_replace($e, " +
        s"'([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g')), " +
        s"'[^\\pL\\pN]+'), w -> w <> '')"

    def censusSql(e: String, clazz: String): String =
      s"CAST(length(regexp_replace($e, '[^$clazz]', '', 'g')) AS BIGINT)"

    /** The dominant-script vote over census columns c_ar/c_cjk/c_cyr/
      * c_gr/c_lat — the Scala fold (name order, strict >, ties keep the
      * earlier name) in CASE form. Shared by the t26/t29/l7 mirrors. */
    val scriptExactSql: String =
      """CASE WHEN greatest(c_ar, c_cjk, c_cyr, c_gr, c_lat) = 0 THEN 'none'
        |  ELSE (CASE WHEN c_lat > greatest(c_ar, c_cjk, c_cyr, c_gr) THEN 'latin'
        |             WHEN c_gr > greatest(c_ar, c_cjk, c_cyr) THEN 'greek'
        |             WHEN c_cyr > greatest(c_ar, c_cjk) THEN 'cyrillic'
        |             WHEN c_cjk > c_ar THEN 'cjk'
        |             ELSE 'arabic' END)
        |END""".stripMargin

    /** Script-aware quality ×10⁴ over a SQL text expression — the
      * [[graft.text.ScriptText.qualityE4]] mirror (t2 formula with
      * all-letter alpha and script-aware tokens). Shared by the
      * t26/l7 mirrors. */
    def qualityE4Sql(t: String): String = {
      val len = s"CAST(LENGTH($t) AS DOUBLE)"
      val alpha = s"CAST(${censusSql(t, "\\pL")} AS DOUBLE)"
      val digits = s"CAST(length(regexp_replace($t, '[^0-9]', '', 'g')) AS DOUBLE)"
      val punct = s"CAST(length(regexp_replace($t, '[^[:punct:]]', '', 'g')) AS DOUBLE)"
      val nTok = s"CAST(len(${toksSql(t)}) AS DOUBLE)"
      s"""CAST(FLOOR((
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
         |) * 10000 + 0.5) AS BIGINT)""".stripMargin
    }

    // ---- shared per-script hashed-LM fragments (t29 / l7 / w15) --------
    // The fixed-point smoothing and log2-ladder text lives ONCE so the
    // three mirrors cannot drift (they were three hand-synced copies).

    def lmBucketSql(e: String, m: Int): String =
      s"(('0x' || substr(md5($e), 1, 15))::UBIGINT % $m)::BIGINT"

    /** `<pre>cb2`/`<pre>cb1`: per-(script, bucket) bigram and prefix
      * counts over a bigram CTE `$gg(doc_id, script, g, w1)`; `where`
      * restricts the training population (e.g. "WHERE doc_id % 3 = 0 "). */
    def lmCountsSql(gg: String, b2: Int, b1: Int, where: String = "",
        pre: String = "c"): String =
      s"""${pre}b2 AS (SELECT script, ${lmBucketSql("g", b2)} AS b2k,
         |  COUNT(*) AS c2 FROM $gg ${where}GROUP BY 1, 2),
         |${pre}b1 AS (SELECT script, ${lmBucketSql("w1", b1)} AS b1k,
         |  COUNT(*) AS c1 FROM $gg ${where}GROUP BY 1, 2)""".stripMargin

    /** `<pre>qq`/`<pre>per`: smoothed bucket probability + fixed-point
      * NLL per document over `$gg`, against `<cntPre>b2`/`<cntPre>b1`.
      * `noneKey` is the unroutable route value excluded from scoring
      * ('none' for the script vote, 'unknown' for langId routing). */
    def lmScoreSql(gg: String, b2: Int, b1: Int, pre: String = "",
        cntPre: String = "c", noneKey: String = "none"): String = {
      val eCase = "CASE " + graft.text.LanguageModel.ladder
        .map { case (thr, ef, _) => s"WHEN q >= $thr THEN $ef" }
        .mkString(" ") + " ELSE 0 END"
      val pCase = "CASE " + graft.text.LanguageModel.ladder
        .map { case (thr, _, p) => s"WHEN q >= $thr THEN $p" }
        .mkString(" ") + " ELSE 1 END"
      val pscale = graft.text.LanguageModel.PScale
      val topF = 31L * graft.text.LanguageModel.F
      s"""${pre}qq AS (
         |  SELECT doc_id, LEAST(GREATEST(
         |    ((coalesce(c2, 0) + 1) * $pscale) // (coalesce(c1, 0) + $b2),
         |    1), $pscale) AS q
         |  FROM (SELECT doc_id, script, ${lmBucketSql("g", b2)} AS b2k,
         |          ${lmBucketSql("w1", b1)} AS b1k FROM $gg
         |        WHERE script <> '$noneKey')
         |  LEFT JOIN ${cntPre}b2 USING (script, b2k)
         |  LEFT JOIN ${cntPre}b1 USING (script, b1k)),
         |${pre}per AS (
         |  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
         |    SUM($topF - ($eCase) - ((q * 65536) // ($pCase)))::BIGINT AS nll_fp
         |  FROM ${pre}qq GROUP BY doc_id)""".stripMargin
    }

    /** `scnt`/`cuts`: the per-script keep-fraction percentile cut over
      * a scored frame `$sc(…, script, n_grams, nll_fp, lm_scorable)`. */
    def lmCutsSql(sc: String, keepNum: Int, keepDen: Int): String =
      s"""scnt AS (
         |  SELECT script, (nll_fp * 1024) // n_grams AS avg, COUNT(*) AS c
         |  FROM $sc WHERE lm_scorable GROUP BY 1, 2),
         |cuts AS (
         |  SELECT script, MIN(avg) AS cut FROM (
         |    SELECT script, avg,
         |      SUM(c) OVER (PARTITION BY script ORDER BY avg) AS cum,
         |      SUM(c) OVER (PARTITION BY script) AS n
         |    FROM scnt)
         |  WHERE cum * $keepDen >= n * $keepNum GROUP BY script)""".stripMargin

    /** `$name(doc_id, script)` over a CTE `$src(doc_id, text)`: the t1
      * marker language vote (max hits, ties to the earlier language
      * name, 'unknown' when no marker hits) — the routing CTE for
      * per-LANGUAGE LM mirrors; the t1 mirror itself is this helper
      * plus a rename. The routing key is named `script` so the shared
      * [[lmCountsSql]]/[[lmScoreSql]]/[[lmCutsSql]] fragments apply
      * verbatim. */
    def langIdCteSql(src: String, name: String = "lid"): String = {
      val hits = graft.text.TextAnalysis.markers.keys.toSeq.sorted.map { lang =>
        val set = graft.text.TextAnalysis.markers(lang)
          .map(w => s"'$w'").mkString("[", ",", "]")
        s"SELECT doc_id, '$lang' AS lang, len(list_filter($WS, " +
          s"w -> list_contains($set, w))) AS n FROM $src"
      }.mkString("\nUNION ALL\n")
      s"""${name}h AS (
         |$hits
         |), ${name}r AS (
         |  SELECT doc_id, lang, n,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, lang) AS rk,
         |    MAX(n) OVER (PARTITION BY doc_id) AS mx
         |  FROM ${name}h),
         |$name AS (
         |  SELECT doc_id, CASE WHEN mx > 0 THEN lang ELSE 'unknown' END AS script
         |  FROM ${name}r WHERE rk = 1)""".stripMargin
    }

    /** `scr(doc_id, script)` over a CTE `$src(doc_id, $textExpr)`:
      * census + [[scriptExactSql]]. */
    def scriptCteSql(src: String, textExpr: String,
        name: String = "scr"): String =
      s"""${name}en AS (
         |  SELECT doc_id,
         |    ${censusSql(textExpr, "\\p{Arabic}")} AS c_ar,
         |    ${censusSql(textExpr, "\\p{Han}\\p{Hiragana}\\p{Katakana}")} AS c_cjk,
         |    ${censusSql(textExpr, "\\p{Cyrillic}")} AS c_cyr,
         |    ${censusSql(textExpr, "\\p{Greek}")} AS c_gr,
         |    ${censusSql(textExpr, "\\p{Latin}")} AS c_lat
         |  FROM $src),
         |$name AS (SELECT doc_id, $scriptExactSql AS script FROM ${name}en)""".stripMargin
  }

  /** The multilingual plane end to end on the derived corpus
    * ([[graft.text.ScriptText]]): per-script code-point census,
    * dominant script, script-gated language ID, script-aware token
    * count, and the script-aware quality score in exact fixed point —
    * the numbers that make non-Latin documents VISIBLE to dedup,
    * quality gates, and token budgeting. */
  def scriptStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.ScriptText
    val d2 = Scripts.derived(Tables.load(spark, dir, "documents"))
    d2.select(col("doc_id"),
        ScriptText.nLatin(col("text2")).as("n_latin"),
        ScriptText.nCjk(col("text2")).as("n_cjk"),
        ScriptText.nCyrillic(col("text2")).as("n_cyrillic"),
        ScriptText.nArabic(col("text2")).as("n_arabic"),
        ScriptText.dominantScript(col("text2")).as("script"),
        ScriptText.langId("text2").as("lang_pred"),
        ScriptText.tokenCount("text2").as("n_tokens"),
        ScriptText.qualityE4("text2").as("q_e4"))
      .orderBy("doc_id")
  }

  val scriptStatsSql: String = {
    import Scripts._
    val t = "text2"
    val toks = toksSql(t)
    val nLatin = censusSql(t, "\\p{Latin}")
    val nCjk = censusSql(t, "\\p{Han}\\p{Hiragana}\\p{Katakana}")
    val nCyr = censusSql(t, "\\p{Cyrillic}")
    val nAr = censusSql(t, "\\p{Arabic}")
    val nGr = censusSql(t, "\\p{Greek}")
    val nLet = censusSql(t, "\\pL")
    // dominant script: the shared name-ordered strict-> fold over the
    // census CTE's columns
    val scriptExact = scriptExactSql
    // marker vote (t1 semantics) over the derived column, for the
    // Latin fallback branch
    val wsLat = s"list_filter(string_split_regex(lower($t), '[^a-zà-ÿ0-9]+'), w -> w <> '')"
    val hits = graft.text.TextAnalysis.markers.keys.toSeq.sorted.map { lang =>
      val set = graft.text.TextAnalysis.markers(lang).map(w => s"'$w'").mkString("[", ",", "]")
      s"SELECT doc_id, '$lang' AS lang, len(list_filter($wsLat, w -> list_contains($set, w))) AS n FROM docs2"
    }.mkString("\nUNION ALL\n")
    // script-aware quality (t2 formula, substituted inputs)
    val len = s"CAST(LENGTH($t) AS DOUBLE)"
    val alpha = s"CAST($nLet AS DOUBLE)"
    val digits = s"CAST(length(regexp_replace($t, '[^0-9]', '', 'g')) AS DOUBLE)"
    val punct = s"CAST(length(regexp_replace($t, '[^[:punct:]]', '', 'g')) AS DOUBLE)"
    val nTok = s"CAST(len($toks) AS DOUBLE)"
    val qual =
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
    s"""WITH $derivedSql,
       |mhits AS (
       |$hits
       |), mranked AS (
       |  SELECT doc_id, lang, n,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, lang) AS rk,
       |    MAX(n) OVER (PARTITION BY doc_id) AS mx
       |  FROM mhits),
       |marker AS (
       |  SELECT doc_id, CASE WHEN mx > 0 THEN lang ELSE 'unknown' END AS mlang
       |  FROM mranked WHERE rk = 1),
       |cen AS (
       |  SELECT doc_id, $nLatin AS c_lat, $nCjk AS c_cjk, $nCyr AS c_cyr,
       |    $nAr AS c_ar, $nGr AS c_gr, $nLet AS c_let,
       |    CAST(len($toks) AS BIGINT) AS n_toks,
       |    CAST(FLOOR($qual * 10000 + 0.5) AS BIGINT) AS q_e4
       |  FROM docs2)
       |SELECT c.doc_id,
       |  c.c_lat AS n_latin, c.c_cjk AS n_cjk, c.c_cyr AS n_cyrillic,
       |  c.c_ar AS n_arabic,
       |  $scriptExact AS script,
       |  CASE WHEN c_let = 0 THEN m.mlang
       |       WHEN c_cjk * 10 > c_let * 3 THEN 'zh'
       |       WHEN c_cyr * 10 > c_let * 3 THEN 'ru'
       |       WHEN c_ar * 10 > c_let * 3 THEN 'ar'
       |       WHEN c_gr * 10 > c_let * 3 THEN 'el'
       |       ELSE m.mlang END AS lang_pred,
       |  c.n_toks AS n_tokens, c.q_e4
       |FROM cen c JOIN marker m USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  // ---- t27: distilled linear quality classifier ------------------------

  /** Train [[graft.text.QualityDistill]] on the corpus with the
    * engine's own composite heuristic as the seed label (8 full-batch
    * GD rounds), then score every document with the trained linear
    * model — the classifier-distillation stage of a curation pipeline,
    * end to end in one query. The gate pins the ENTIRE training
    * trajectory: one wrong gradient bit in any round shifts the final
    * weights and every score_e6. */
  def qualityDistillQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = graft.text.QualityDistill.train(docs, "text",
      TextAnalysis.qualityE4("text"))
    docs.select(col("doc_id"),
        TextAnalysis.qualityE4("text").as("label_e4"),
        floor(graft.text.QualityDistill.score("text", w) * 1000000d + 0.5d)
          .cast(LongType).as("score_e6"))
      .withColumn("pred", col("score_e6") >= 500000L)
      .orderBy("doc_id")
  }

  /** DuckDB mirror: the 8 GD rounds unrolled as one-row chained CTEs
    * (the c1/t18 device) — integer gradient sums over the same
    * quantized census features, double weight updates in the same term
    * order. */
  /** The t27 training chain as a reusable fragment: CTEs feats,
    * w0..w8, and `dscored` (doc_id, label_e4, score_e6, pred) —
    * consumers read `dscored`. */
  def qualityDistillChainSql: String = qualityDistillChainSqlFrom("documents")

  def qualityDistillChainSqlFrom(src: String): String = {
    val len = "CAST(LENGTH(text) AS DOUBLE)"
    val alpha = "CAST(LENGTH(regexp_replace(text, '[^A-Za-zà-ÿ]', '', 'g')) AS DOUBLE)"
    val digits = "CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    val punct = "CAST(LENGTH(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)"
    val nTok = s"CAST(len($WS) AS DOUBLE)"
    def q(x: String) = s"CAST(FLOOR(($x) * 10000.0 + 0.5) AS BIGINT)"
    val fdefs = Seq(
      "CAST(10000 AS BIGINT)",
      q(s"CASE WHEN $len > 0 THEN $alpha / $len ELSE 0.0 END"),
      q(s"CASE WHEN $len > 0 THEN $punct / $len ELSE 0.0 END"),
      q(s"CASE WHEN $len > 0 THEN $digits / $len ELSE 0.0 END"),
      q(s"LEAST($len, 20000.0) / 20000.0"),
      q(s"CASE WHEN $nTok > 0 THEN LEAST($alpha / $nTok, 20.0) / 20.0 ELSE 0.0 END"))
    val featCols = fdefs.zipWithIndex.map { case (d, j) => s"$d AS f$j" }
      .mkString(",\n    ")
    def p(w: String) = (0 until 6).map(j => s"f$j / 10000.0 * $w.w$j")
      .mkString(" + ")
    val rounds = (1 to 8).map { k =>
      val gs = (0 until 6).map(j => s"CAST(SUM(f$j * r) AS BIGINT) AS g$j")
        .mkString(", ")
      val ws = (0 until 6).map(j =>
        s"w.w$j + 0.5 * (CAST(g.g$j AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1.0e10)) AS w$j")
        .mkString(",\n       ")
      s"""g$k AS (
         |  SELECT $gs, COUNT(*) AS n
         |  FROM (SELECT f.*,
         |          CAST(FLOOR((y / 10000.0 - (${p("w")})) * 1000000.0 + 0.5) AS BIGINT) AS r
         |        FROM feats f, w${k - 1} w) t),
         |w$k AS (
         |  SELECT $ws
         |  FROM w${k - 1} w, g$k g)""".stripMargin
    }.mkString(",\n")
    val w0 = (0 until 6).map(j => s"0.0 AS w$j").mkString(", ")
    s"""feats AS MATERIALIZED (
       |  SELECT doc_id,
       |    $featCols,
       |    CAST(FLOOR($rawQualitySql * 10000 + 0.5) AS BIGINT) AS y
       |  FROM $src),
       |w0 AS (SELECT $w0),
       |$rounds,
       |dscored AS (
       |  SELECT doc_id, y AS label_e4,
       |    CAST(FLOOR((${p("w")}) * 1000000.0 + 0.5) AS BIGINT) AS score_e6,
       |    CAST(FLOOR((${p("w")}) * 1000000.0 + 0.5) AS BIGINT) >= 500000 AS pred
       |  FROM feats f, w8 w)""".stripMargin
  }

  val qualityDistillSql: String =
    s"""WITH $qualityDistillChainSql
       |SELECT doc_id, label_e4, score_e6, pred
       |FROM dscored ORDER BY doc_id""".stripMargin

  // ---- t43: classifier calibration curve ---------------------------------

  /** Calibration of the t27 distilled classifier against its own
    * teacher, by predicted-score decile: per bucket the document
    * count, the teacher's keep count (label ≥ 0.5), the exact label
    * mass, and the agreement count between the classifier's verdict
    * and the teacher's. A well-calibrated distillation shows label
    * mass rising with the score bucket and agreement concentrated in
    * the extreme buckets — the eval that says whether the cheap
    * deployed scorer can be TRUSTED to stand in for the heuristic
    * (the s15/d21 convention: measure the approximation, don't assume
    * it). Buckets clamp to [0, 9] because a linear model's scores can
    * stray outside [0, 1]. One groupBy over the scored frame. */
  def distillCalibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.LanguageModel.ldiv
    val base = Tables.load(spark, dir, "documents").select("doc_id", "text")
    Tables.requireIdHeadroom(base, "doc_id")
    // the natural corpus is uniformly teacher-kept — a one-bucket
    // curve calibrates nothing. Plant a quality GRADIENT: digit/punct
    // noise (teacher-rejected) off every 3rd doc, a half-noise mix
    // off every 7th, so both ends and the middle of the curve carry
    // mass. The classifier TRAINS on the same lake it is scored on —
    // the t27 distillation setting.
    val docs = base
      .unionByName(base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("0011 2233 !!! 4455 ??? 6677 8899 !! 0011 2233 !!! 4455" +
            " ??? 6677 8899 !! 0011 2233 !!! 4455 ??? 6677 8899 !!")
            .as("text")))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(substring(col("text"), 1, 60),
            lit(" 12345 !!! 67890 ??? 12345 !!! 67890 ???")).as("text")))
    val w = graft.text.QualityDistill.train(docs, "text",
      TextAnalysis.qualityE4("text"))
    val scored = docs.select(
      TextAnalysis.qualityE4("text").as("label_e4"),
      floor(graft.text.QualityDistill.score("text", w) * 1000000d + 0.5d)
        .cast(LongType).as("score_e6"))
    scored
      .withColumn("bucket",
        greatest(least(ldiv(col("score_e6"), lit(100000L)), lit(9L)), lit(0L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label_e4") >= 5000L, 1L).otherwise(0L))
          .as("n_label_keep"),
        sum("label_e4").as("sum_label_e4"),
        sum(when((col("score_e6") >= 500000L) === (col("label_e4") >= 5000L),
          1L).otherwise(0L)).as("n_agree"))
      .orderBy("bucket")
  }

  val distillCalibrationSql: String =
    s"""WITH lake AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    '0011 2233 !!! 4455 ??? 6677 8899 !! 0011 2233 !!! 4455 ??? 6677 8899 !! 0011 2233 !!! 4455 ??? 6677 8899 !!'
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 2000000,
       |    substr(text, 1, 60) || ' 12345 !!! 67890 ??? 12345 !!! 67890 ???'
       |  FROM documents WHERE doc_id % 7 = 0),
       |${qualityDistillChainSqlFrom("lake")},
       |b AS (
       |  SELECT GREATEST(LEAST(score_e6 // 100000, 9), 0) AS bucket,
       |    label_e4, score_e6
       |  FROM dscored)
       |SELECT bucket, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN label_e4 >= 5000 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_label_keep,
       |  SUM(label_e4)::BIGINT AS sum_label_e4,
       |  SUM(CASE WHEN (score_e6 >= 500000) = (label_e4 >= 5000)
       |        THEN 1 ELSE 0 END)::BIGINT AS n_agree
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- t28: LM perplexity filter (CCNet head/middle/tail) ---------------

  /** Bigram-LM perplexity bucketing of the whole corpus against the
    * English subset as the trusted reference
    * ([[graft.text.LanguageModel.perplexityBuckets]]): every document
    * scored by its add-one-smoothed bigram NLL in the integer-exact
    * fixed-point log2 surrogate, then cut into head/middle/tail thirds
    * by average NLL — the CCNet quality gate. */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.text.LanguageModel.perplexityBuckets(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_grams"), col("nll_fp"),
        col("avg_nll_fp"), col("ppl_bucket"))
      .orderBy("doc_id")
  }

  val lmPerplexitySql: String = {
    val ws4 = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    // the ⌊log2⌋ CASE ladders, interpolated from the SAME constants the
    // Spark expression chains on (LanguageModel.ladder)
    val eCase = "CASE " + graft.text.LanguageModel.ladder
      .map { case (thr, ef, _) => s"WHEN q >= $thr THEN $ef" }
      .mkString(" ") + " ELSE 0 END"
    val pCase = "CASE " + graft.text.LanguageModel.ladder
      .map { case (thr, _, p) => s"WHEN q >= $thr THEN $p" }
      .mkString(" ") + " ELSE 1 END"
    val pscale = graft.text.LanguageModel.PScale
    val topF = 31L * graft.text.LanguageModel.F
    val unscorable = graft.text.LanguageModel.UnscorableKey
    s"""WITH t AS (SELECT doc_id, lang, $ws4 AS ws FROM documents),
       |gg AS (
       |  SELECT doc_id, lang, g, split_part(g, ' ', 1) AS w1
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM t WHERE len(ws) >= 2)),
       |c2 AS (SELECT g, COUNT(*) AS c2 FROM gg WHERE lang = 'en' GROUP BY g),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM gg WHERE lang = 'en' GROUP BY w1),
       |vv AS (SELECT COUNT(DISTINCT w) + 1 AS v
       |       FROM (SELECT unnest(ws) AS w FROM t WHERE lang = 'en')),
       |qq AS (
       |  SELECT doc_id,
       |    GREATEST(((coalesce(c2.c2, 0) + 1) * $pscale)
       |      // (coalesce(c1.c1, 0) + vv.v), 1) AS q
       |  FROM gg LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1), vv),
       |per AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       |    SUM($topF - ($eCase) - ((q * 65536) // ($pCase)))::BIGINT AS nll_fp
       |  FROM qq GROUP BY doc_id),
       |sc AS (
       |  SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    CASE WHEN coalesce(n_grams, 0) > 0
       |      THEN (coalesce(nll_fp, 0) * 1024) // n_grams
       |      ELSE $unscorable END AS avg_nll_fp
       |  FROM documents d LEFT JOIN per USING (doc_id)),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY avg_nll_fp, doc_id) AS rn,
       |    COUNT(*) OVER () AS n FROM sc)
       |SELECT doc_id, n_grams, nll_fp, avg_nll_fp,
       |  (((rn - 1) * 3) // n + 1)::BIGINT AS ppl_bucket
       |FROM rk ORDER BY doc_id""".stripMargin
  }

  // ---- t29: per-script hashed LM gate ------------------------------------

  private[graft] val SLmB2 = 4096
  private[graft] val SLmB1 = 1024
  /** Keep the most-fluent 7/10 of every script (shared with w15). */
  private[graft] val SLmKeepNum = 7
  private[graft] val SLmKeepDen = 10

  /** Digits/punctuation-only filler planted on every 41st document so
    * the unscorable route is exercised: no letters → script 'none'. */
  private[queries] val NoScriptFiller = "0123 4567 89 ... ---- !!!"

  /** The per-script LM gate ([[graft.text.ScriptLm]]) end to end on
    * the derived multilingual corpus (every 41st document replaced by
    * letterless filler — the unscorable population): per-script hashed
    * bigram models trained on the trusted subset (doc_id % 3 = 0 —
    * each script's model sees only its own population), every document
    * scored against its OWN script's counts, and gated by the
    * per-script PERCENTILE cut (keep the most-fluent 70% of each
    * script — bites in every routed population by construction) with
    * the EXPLICIT unscorable policy: `lm_scorable = false` documents
    * (script 'none', or zero script bigrams) are tagged and KEPT —
    * never the silent language filter the single-model n>0 conjunct
    * used to be. */
  def scriptLmGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.ScriptLm
    val d2 = Scripts.derived(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"),
        when(col("doc_id") % 41 === 0, lit(NoScriptFiller))
          .otherwise(col("text2")).as("text2"))
    val ref = d2.filter(col("doc_id") % 3 === 0)
    val (c2, c1) = ScriptLm.hashedCounts(ref, "text2", SLmB2, SLmB1)
    // scoring in the dense DEPLOYED form (r14; the l7/w15 device): the
    // per-(script, bucket) counts collect into fixed-size dense arrays
    // (|Scripts|·(b2+b1) longs — corpus-size-independent) and each row
    // scores via the native BigramScore kernel, replacing two
    // gram-grain hashed-count joins + a per-doc re-aggregation + a
    // join back. Pinned ≡ the score() join form per row (ScriptLmSpec);
    // the ORACLE below still replays the join form in SQL, so the
    // kernel ≡ join identity stays cross-engine-pinned by this query.
    val lmArr = ScriptLm.denseCounts(c2, c1, SLmB2, SLmB1)
    val st = BigramScore(
      graft.text.ScriptText.tokens(col("text2")),
      ScriptLm.scriptIndex(col("script")),
      new BigramScore.AddOne(lmArr._1, lmArr._2, SLmB2, SLmB1))
    val scored = graft.ops.StagePersists.track(d2
      .withColumn("script",
        graft.text.ScriptText.dominantScript(col("text2")))
      .withColumn("__st", st)
      .select(col("doc_id").as("id"), col("script"),
        element_at(col("__st"), 1).as("n_grams"),
        element_at(col("__st"), 2).as("nll_fp"),
        (col("script") =!= "none" && element_at(col("__st"), 1) > 0L)
          .as("lm_scorable")))
    val cuts = ScriptLm.percentileCuts(scored, SLmKeepNum, SLmKeepDen)
    scored.join(broadcast(cuts), Seq("script"), "left_outer")
      .select(col("id").as("doc_id"), col("script"), col("n_grams"),
        col("nll_fp"), col("lm_scorable"),
        when(!col("lm_scorable"), lit(true))
          .otherwise(graft.text.LanguageModel.avgKey(
            col("nll_fp"), col("n_grams")) <= col("cut")).as("kept"))
      .orderBy("doc_id")
  }

  /** Mirror: derivation CTE + script census/vote + script-aware bigram
    * stream bucket-joined against the reference's per-(script, bucket)
    * counts — the w14 hashed-LM mirror with the routing key in every
    * join. */
  val scriptLmGateSql: String = {
    import Scripts._
    s"""WITH $derivedSql,
       |docs3 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN '$NoScriptFiller'
       |                      ELSE text2 END AS text2
       |  FROM docs2),
       |${scriptCteSql("docs3", "text2")},
       |t AS (SELECT doc_id, ${toksSql("text2")} AS ws FROM docs3),
       |gg AS (
       |  SELECT g0.doc_id, scr.script, g, split_part(g, ' ', 1) AS w1
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM t WHERE len(ws) >= 2) g0
       |  JOIN scr ON g0.doc_id = scr.doc_id),
       |${lmCountsSql("gg", SLmB2, SLmB1, where = "WHERE doc_id % 3 = 0 ")},
       |${lmScoreSql("gg", SLmB2, SLmB1)},
       |sc0 AS (
       |  SELECT s.doc_id, s.script,
       |    coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    (s.script <> 'none' AND coalesce(n_grams, 0) > 0) AS lm_scorable
       |  FROM scr s LEFT JOIN per USING (doc_id)),
       |${lmCutsSql("sc0", SLmKeepNum, SLmKeepDen)}
       |SELECT s.doc_id, s.script, s.n_grams, s.nll_fp, s.lm_scorable,
       |  (CASE WHEN NOT s.lm_scorable THEN TRUE
       |        ELSE (s.nll_fp * 1024) // s.n_grams <= c.cut END) AS kept
       |FROM sc0 s LEFT JOIN cuts c USING (script)
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---- t30: per-LANGUAGE hashed LM gate ----------------------------------

  /** The hashed-LM machinery routed by LANGUAGE
    * ([[graft.text.TextAnalysis.langId]]) — the full CCNet granularity:
    * every Latin-script language gets its OWN bigram model instead of
    * sharing the 'latin' script model (fluency statistics differ per
    * language within a script; t29 closed the cross-SCRIPT gap, this
    * closes the within-script one). Same plumbing end to end
    * ([[graft.text.ScriptLm]] generalized over the routing key):
    * models trained on the trusted subset routed by the documents' own
    * language vote, per-language percentile cuts, and the explicit
    * unscorable policy — 'unknown'-language documents (the planted
    * letterless filler) tagged `lm_scorable = false` and KEPT. */
  /** Marker prefix per language — the corpus derivation that gives the
    * router real populations (the raw synthetic text carries no
    * de/es/fr markers, so the vote would route everything en/unknown;
    * planting each document's own language markers makes langId route
    * by CONTENT, the deployed shape). Declared before the SQL val that
    * interpolates it. */
  private[queries] def langMarkerPrefix(lang: String): String =
    graft.text.TextAnalysis.markers.get(lang)
      .map(_.mkString("", " ", " ")).getOrElse("")

  def langLmGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.ScriptLm
    val marked = graft.text.TextAnalysis.markers.keys.toSeq.sorted
      .foldLeft(lit("")) { (acc, l) =>
        when(col("lang") === l, lit(langMarkerPrefix(l))).otherwise(acc)
      }
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 41 === 0, lit(NoScriptFiller))
          .otherwise(concat(marked, col("text"))).as("text"))
    val route = TextAnalysis.langId("text")
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val (c2, c1) = ScriptLm.hashedCountsBy(ref, "text", route, SLmB2, SLmB1)
    // dense deployed form over the LANGUAGE key set (r14; see t29):
    // the routed key space is the fixed marker-language set, so the
    // dense arrays are |langs|·(b2+b1) longs at any corpus size.
    // Counts routed 'unknown' never reach a score on either path (the
    // join form filters the noneKey before the join; the kernel routes
    // keyIndex = −1 to the unscorable 0/0), so dropping them from the
    // dense arrays is exact. Pinned ≡ scoreBy per row (ScriptLmSpec);
    // the oracle still replays the join form.
    val langKeys = graft.text.TextAnalysis.markers.keys.toSeq.sorted
    val lmArr = ScriptLm.denseCounts(c2, c1, SLmB2, SLmB1, keys = langKeys)
    val st = BigramScore(
      graft.text.ScriptText.tokens(col("text")),
      ScriptLm.keyIndex(route, langKeys),
      new BigramScore.AddOne(lmArr._1, lmArr._2, SLmB2, SLmB1))
    val scored = graft.ops.StagePersists.track(docs
      .withColumn("script", route)
      .withColumn("__st", st)
      .select(col("doc_id").as("id"), col("script"),
        element_at(col("__st"), 1).as("n_grams"),
        element_at(col("__st"), 2).as("nll_fp"),
        (col("script") =!= "unknown" && element_at(col("__st"), 1) > 0L)
          .as("lm_scorable")))
    val cuts = ScriptLm.percentileCuts(scored, SLmKeepNum, SLmKeepDen)
    scored.join(broadcast(cuts), Seq("script"), "left_outer")
      .select(col("id").as("doc_id"), col("script").as("lang"),
        col("n_grams"), col("nll_fp"), col("lm_scorable"),
        when(!col("lm_scorable"), lit(true))
          .otherwise(graft.text.LanguageModel.avgKey(
            col("nll_fp"), col("n_grams")) <= col("cut")).as("kept"))
      .orderBy("doc_id")
  }

  /** Mirror: the t1 marker-vote routing CTE + the shared per-route LM
    * fragments with 'unknown' as the unroutable key. */
  val langLmGateSql: String = {
    import Scripts._
    val prefixCase = "CASE lang " + graft.text.TextAnalysis.markers.keys
      .toSeq.sorted
      .map(l => s"WHEN '$l' THEN '${langMarkerPrefix(l)}'")
      .mkString(" ") + " ELSE '' END"
    s"""WITH docs3 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN '$NoScriptFiller'
       |                      ELSE ($prefixCase) || text END AS text
       |  FROM documents),
       |${langIdCteSql("docs3")},
       |t AS (SELECT doc_id, ${toksSql("text")} AS ws FROM docs3),
       |gg AS (
       |  SELECT g0.doc_id, lid.script, g, split_part(g, ' ', 1) AS w1
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM t WHERE len(ws) >= 2) g0
       |  JOIN lid ON g0.doc_id = lid.doc_id),
       |${lmCountsSql("gg", SLmB2, SLmB1, where = "WHERE doc_id % 3 = 0 ")},
       |${lmScoreSql("gg", SLmB2, SLmB1, noneKey = "unknown")},
       |sc0 AS (
       |  SELECT s.doc_id, s.script,
       |    coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    (s.script <> 'unknown' AND coalesce(n_grams, 0) > 0) AS lm_scorable
       |  FROM lid s LEFT JOIN per USING (doc_id)),
       |${lmCutsSql("sc0", SLmKeepNum, SLmKeepDen)}
       |SELECT s.doc_id, s.script AS lang, s.n_grams, s.nll_fp, s.lm_scorable,
       |  (CASE WHEN NOT s.lm_scorable THEN TRUE
       |        ELSE (s.nll_fp * 1024) // s.n_grams <= c.cut END) AS kept
       |FROM sc0 s LEFT JOIN cuts c USING (script)
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---- t32: Kneser–Ney hashed LM perplexity ------------------------------

  // declared immediately above the SQL val that interpolates them
  // (object-init order); shared with the w17 deployed twin
  private[queries] val KnB2 = 4096
  private[queries] val KnB1 = 512

  /** The KENSER–NEY estimator upgrade of the t28/w14 fluency plane
    * ([[graft.text.LanguageModel.knHashedCounts]]/[[graft.text
    * .LanguageModel.knScore]]): absolute discounting (d = 3/4) with
    * continuation probabilities — the KenLM-style smoothing CCNet's
    * gates actually deploy, where add-one systematically over-penalizes
    * frequent-prefix/unseen-continuation grams. Trained on the en
    * slice, scored over every document; 'unknown'-tokenizable docs
    * (zero ASCII bigrams) carry the unscorable avg key and rank tail,
    * the t28 convention. */
  def knPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val lm = graft.text.LanguageModel
    val (c2, c1, cont, totals) = lm.knHashedCounts(
      docs.filter(col("lang") === "en"), "text", KnB2, KnB1)
    // scoring in the dense DEPLOYED form (r14; the w17 device): the
    // counts collect into O(b2+b1) arrays and each row scores via the
    // native BigramScore kernel, replacing four bucket-grain joins + a
    // per-doc re-aggregation + a join back. KneserNeySpec pins kernel
    // ≡ the knScore join form per row; the ORACLE below still replays
    // the join form in SQL, so the identity stays cross-engine-pinned.
    val (d2, dc1, dn1, dco, t) = lm.knDenseCounts(c2, c1, cont, totals,
      KnB2, KnB1)
    val (n, nll) = lm.knNllColumns(d2, dc1, dn1, dco, t, KnB2, KnB1, "text")
    docs.select(col("doc_id"), n.as("n_grams"), nll.as("nll_fp"))
      .withColumn("avg_nll_fp",
        lm.avgKey(col("nll_fp"), col("n_grams")))
      .orderBy("doc_id")
  }

  /** The shared KN mirror chain (t AS … per AS): the w14 CTE scaffold
    * with the KN type statistics (distinct (prefix, continuation)
    * bucket pairs) and the two-floor discounted probability — term for
    * term the [[graft.text.LanguageModel.knScore]] spec, nested floors
    * included. Shared by the t32 and w17 mirrors. */
  private[queries] val KnChainSql: String = {
    val ws4 = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    def bkt(e: String, m: Int) =
      s"(('0x' || substr(md5($e), 1, 15))::UBIGINT % $m)::BIGINT"
    val eCase = "CASE " + graft.text.LanguageModel.ladder
      .map { case (thr, ef, _) => s"WHEN q >= $thr THEN $ef" }
      .mkString(" ") + " ELSE 0 END"
    val pCase = "CASE " + graft.text.LanguageModel.ladder
      .map { case (thr, _, p) => s"WHEN q >= $thr THEN $p" }
      .mkString(" ") + " ELSE 1 END"
    val pscale = graft.text.LanguageModel.PScale
    val topF = 31L * graft.text.LanguageModel.F
    s"""t AS (SELECT doc_id, lang, $ws4 AS ws FROM documents),
       |rb AS (
       |  SELECT doc_id, lang, ${bkt("g", KnB2)} AS b,
       |    ${bkt("split_part(g, ' ', 1)", KnB1)} AS j,
       |    ${bkt("split_part(g, ' ', 2)", KnB1)} AS u
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM t WHERE len(ws) >= 2)),
       |cb2 AS (SELECT b, COUNT(*) AS c2 FROM rb WHERE lang = 'en' GROUP BY b),
       |cb1 AS (SELECT j, COUNT(*) AS c1 FROM rb WHERE lang = 'en' GROUP BY j),
       |types AS (SELECT DISTINCT j, u FROM rb WHERE lang = 'en'),
       |n1s AS (SELECT j, COUNT(*) AS n1 FROM types GROUP BY j),
       |conts AS (SELECT u, COUNT(*) AS cont FROM types GROUP BY u),
       |tt AS (SELECT COUNT(*)::BIGINT AS tn FROM types),
       |qq AS (
       |  SELECT doc_id,
       |    CASE WHEN coalesce(c1, 0) > 0 THEN
       |      LEAST(GREATEST(
       |        (GREATEST(coalesce(c2, 0) * 4 - 3, 0) * $pscale)
       |          // (coalesce(c1, 0) * 4)
       |        + (((coalesce(n1, 0) * 3 * $pscale) // (coalesce(c1, 0) * 4))
       |            * coalesce(cont, 0)) // tn,
       |        1), $pscale)
       |    ELSE LEAST(GREATEST((coalesce(cont, 0) * $pscale) // tn, 1),
       |           $pscale) END AS q
       |  FROM rb LEFT JOIN cb2 USING (b) LEFT JOIN cb1 USING (j)
       |  LEFT JOIN n1s USING (j) LEFT JOIN conts USING (u) CROSS JOIN tt),
       |per AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       |    SUM($topF - ($eCase) - ((q * 65536) // ($pCase)))::BIGINT AS nll_fp
       |  FROM qq GROUP BY doc_id)""".stripMargin
  }

  val knPerplexitySql: String =
    s"""WITH $KnChainSql
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |  CASE WHEN coalesce(n_grams, 0) > 0
       |       THEN (nll_fp * 1024) // n_grams
       |       ELSE ${graft.text.LanguageModel.UnscorableKey} END AS avg_nll_fp
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- t33: unigram-LM (SentencePiece-style) tokenizer encode -----------

  // declared immediately above the SQL val that interpolates them
  // (object-init order — the w13 gotcha)
  private[queries] val UTopM = 48

  /** The OTHER tokenizer family next to t18/t25 BPE
    * ([[graft.text.UnigramLm]]): seed vocabulary = the corpus's top
    * [[UTopM]] substrings plus all characters, piece costs = their
    * substring-occurrence NLL through the shared fixed-point ladder,
    * and every document encoded by the tie-proof Viterbi DP in the
    * native [[graft.functions.UnigramEncode]] kernel — one
    * shuffle-free per-row pass, append-mode stream legal. Output:
    * per-document (n_words, n_pieces, cost_fp). */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val model = graft.text.UnigramLm.denseModel(docs, "text", UTopM)
    val (nW, nP, cost) = graft.text.UnigramLm.encodeColumns(model, "text")
    docs.select(col("doc_id"), nW.as("n_words"), nP.as("n_pieces"),
        cost.as("cost_fp"))
      .orderBy("doc_id")
  }

  /** Mirror: the vocabulary/cost training replayed as plain aggregates
    * and the Viterbi DP as an UNROLLED min-plus chain (the c1/s5
    * Lloyd-unroll device) — one CTE per word position up to
    * [[graft.text.UnigramLm.MaxWordLen]], each taking the MIN over the
    * ≤ MaxPieceLen incoming steps of the combined cost·2²⁰+pieces key;
    * longer words use the character-fallback closed form. */
  /** Shared SQL generators for the t33/t34 mirrors. Every multiply
    * referenced CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    * the fan-in-4 min-plus recursion (and the fan-in-4 path walk)
    * inline exponentially otherwise. */
  private object UnigramSql {
    val ug = graft.text.UnigramLm
    private val lm = graft.text.LanguageModel
    private val eCase = "CASE " + lm.ladder
      .map { case (thr, ef, _) => s"WHEN q >= $thr THEN $ef" }
      .mkString(" ") + " ELSE 0 END"
    private val pCase = "CASE " + lm.ladder
      .map { case (thr, _, p) => s"WHEN q >= $thr THEN $p" }
      .mkString(" ") + " ELSE 1 END"
    private val asciiToks =
      "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    private val pieceVals =
      (1 to ug.MaxPieceLen).map(l => s"($l)").mkString(",")

    /** The clamped-ladder NLL cost from a (piece, cnt) relation. */
    def costSql(name: String, src: String, totSrc: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece,
         |    (${31L * lm.F} - ($eCase) - ((q * ${lm.F}) // ($pCase)))::BIGINT
         |      AS cost
         |  FROM (SELECT piece,
         |          LEAST(GREATEST((cnt * ${lm.PScale}) // tot, 1),
         |            ${lm.PScale}) AS q
         |        FROM $src CROSS JOIN $totSrc))""".stripMargin

    /** Corpus tokenization + seed-vocabulary training (t .. vcost). */
    val prefixSql: String =
      s"""t AS (SELECT doc_id, $asciiToks AS ws FROM documents),
         |tok AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w FROM t),
         |wc AS MATERIALIZED (SELECT w, COUNT(*)::BIGINT AS freq FROM tok GROUP BY w),
         |sub0 AS (
         |  SELECT w, freq, l, unnest(range(1, len(w) - l + 2)) AS i
         |  FROM wc, (VALUES $pieceVals) ls(l) WHERE l <= len(w)),
         |subs AS (
         |  SELECT substr(w, i::INT, l) AS piece, SUM(freq)::BIGINT AS cnt
         |  FROM sub0 GROUP BY 1),
         |multi AS (
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |      ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM subs WHERE len(piece) >= 2)
         |  WHERE rn <= $UTopM),
         |vocab AS MATERIALIZED (SELECT piece, cnt FROM multi UNION ALL
         |          SELECT piece, cnt FROM subs WHERE len(piece) = 1),
         |vtot AS (SELECT SUM(cnt)::BIGINT AS tot FROM vocab),
         |${costSql("vcost", "vocab", "vtot")}""".stripMargin

    /** One unrolled min-plus DP chain against cost table `vcost$sfx`:
      * emits stp$sfx, dp0$sfx..dpN$sfx, dall$sfx (positions 0..N),
      * wkey/wlong/wall$sfx. */
    def dpSql(sfx: String): String = {
      val dpCtes = (1 to ug.MaxWordLen).map { i =>
        val prev = (math.max(0, i - ug.MaxPieceLen) until i)
          .map(j => s"SELECT w, key, $j AS pos FROM dp$j$sfx")
          .mkString(" UNION ALL ")
        s"""dp$i$sfx AS MATERIALIZED (
           |  SELECT s.w, MIN(d.key + s.scost * ${ug.CntScale} + 1)::BIGINT AS key
           |  FROM stp$sfx s
           |  JOIN ($prev) d ON d.w = s.w AND d.pos = s.i - s.l
           |  WHERE s.i = $i
           |  GROUP BY s.w)""".stripMargin
      }.mkString(",\n")
      val dall = (0 to ug.MaxWordLen)
        .map(i => s"SELECT w, key, $i AS pos FROM dp$i$sfx")
        .mkString(" UNION ALL ")
      s"""stp$sfx AS MATERIALIZED (
         |  SELECT p.w, p.i, p.l,
         |    (CASE WHEN p.l = 1 THEN coalesce(c.cost, ${ug.UnkCost})
         |          ELSE c.cost END) AS scost
         |  FROM (SELECT w, l, unnest(range(l, len(w) + 1)) AS i
         |        FROM wc, (VALUES $pieceVals) ls(l)
         |        WHERE l <= len(w) AND len(w) <= ${ug.MaxWordLen}) p
         |  LEFT JOIN vcost$sfx c
         |    ON c.piece = substr(p.w, (p.i - p.l + 1)::INT, p.l)
         |  WHERE p.l = 1 OR c.cost IS NOT NULL),
         |dp0$sfx AS MATERIALIZED (SELECT w, 0::BIGINT AS key FROM wc
         |        WHERE len(w) <= ${ug.MaxWordLen}),
         |$dpCtes,
         |dall$sfx AS MATERIALIZED ($dall),
         |wkey$sfx AS (SELECT d.w, d.key FROM dall$sfx d
         |         JOIN wc ON wc.w = d.w AND len(wc.w) = d.pos),
         |wlong$sfx AS (
         |  SELECT p.w,
         |    SUM(coalesce(c.cost, ${ug.UnkCost}) * ${ug.CntScale} + 1)::BIGINT
         |      AS key
         |  FROM (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM wc
         |        WHERE len(w) > ${ug.MaxWordLen}) p
         |  LEFT JOIN vcost$sfx c ON c.piece = substr(p.w, p.i::INT, 1)
         |  GROUP BY p.w),
         |wall$sfx AS (SELECT * FROM wkey$sfx UNION ALL SELECT * FROM wlong$sfx)""".stripMargin
    }

    /** The CANONICAL-path walk over chain `sfx` (positions descending,
      * ties to the shortest piece via ORDER BY l) + the hard-EM usage
      * counts + the re-derived cost table vcost$out — one EM round;
      * chain em(sfx, out) -> dp(out) -> em(out, next) for more. */
    def emSql(sfx: String, out: String): String = {
      val walk = (ug.MaxWordLen to 1 by -1).map { i =>
        val entered = (i + 1 to math.min(i + ug.MaxPieceLen, ug.MaxWordLen))
          .map(j => s"SELECT w FROM st$j$out WHERE l = ${j - i}")
        val onpath = (Seq(s"SELECT w FROM wc WHERE len(w) = $i") ++ entered)
          .mkString(" UNION ALL ")
        s"""st$i$out AS MATERIALIZED (
           |  SELECT w, l, piece FROM (
           |    SELECT s.w, s.l,
           |      substr(s.w, (s.i - s.l + 1)::INT, s.l) AS piece,
           |      ROW_NUMBER() OVER (PARTITION BY s.w ORDER BY s.l) AS rn
           |    FROM stp$sfx s
           |    JOIN dall$sfx dprev ON dprev.w = s.w AND dprev.pos = $i - s.l
           |    JOIN dall$sfx dcur ON dcur.w = s.w AND dcur.pos = $i
           |    JOIN ($onpath) op ON op.w = s.w
           |    WHERE s.i = $i
           |      AND dprev.key + s.scost * ${ug.CntScale} + 1 = dcur.key)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val puUnion = (1 to ug.MaxWordLen)
        .map(i => s"SELECT w, piece FROM st$i$out").mkString(" UNION ALL ")
      s"""$walk,
         |pu$out AS (
         |  $puUnion
         |  UNION ALL
         |  SELECT p.w, substr(p.w, p.i::INT, 1) AS piece
         |  FROM (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM wc
         |        WHERE len(w) > ${ug.MaxWordLen}) p),
         |usage$out AS (
         |  SELECT piece, SUM(freq)::BIGINT AS cnt
         |  FROM pu$out JOIN wc USING (w) GROUP BY piece),
         |vu$out AS MATERIALIZED (
         |  SELECT v.piece, coalesce(u.cnt, 0)::BIGINT AS cnt
         |  FROM vocab v LEFT JOIN usage$out u USING (piece)),
         |vtot$out AS (SELECT SUM(cnt)::BIGINT AS tot FROM vu$out),
         |${costSql(s"vcost$out", s"vu$out", s"vtot$out")}""".stripMargin
    }

    /** Per-document rollup + final select from chain `wall$sfx`. */
    def dsSql(sfx: String): String =
      s"""ds$sfx AS (
         |  SELECT tok.doc_id, COUNT(*)::BIGINT AS n_words,
         |    SUM(key % ${ug.CntScale})::BIGINT AS n_pieces,
         |    SUM(key // ${ug.CntScale})::BIGINT AS cost_fp
         |  FROM tok JOIN wall$sfx ON wall$sfx.w = tok.w GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_words, 0)::BIGINT AS n_words,
         |  coalesce(n_pieces, 0)::BIGINT AS n_pieces,
         |  coalesce(cost_fp, 0)::BIGINT AS cost_fp
         |FROM documents d LEFT JOIN ds$sfx USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
  }

  val unigramEncodeSql: String =
    s"""WITH ${UnigramSql.prefixSql},
       |${UnigramSql.dpSql("")},
       |${UnigramSql.dsSql("")}""".stripMargin

  // ---- t34: hard-EM refined unigram tokenizer ----------------------------

  /** One hard-EM round on the t33 model ([[graft.text.UnigramLm
    * .emRefine]]): the corpus re-segmented by the CANONICAL Viterbi
    * path (ties to the shortest piece), usage-share costs re-derived,
    * every document re-encoded under the refined model — the
    * SentencePiece training step in deterministic integer form. */
  def unigramEmEncode(spark: SparkSession, dir: String): DataFrame = {
    val ug = graft.text.UnigramLm
    val docs = Tables.load(spark, dir, "documents")
    val wc = graft.ops.StagePersists.track(ug.wordCounts(docs, "text"))
    val model0 = new graft.functions.UnigramEncode.Model(
      ug.pieceCosts(ug.seedVocab(ug.substringCounts(wc), UTopM)),
      ug.MaxPieceLen, ug.MaxWordLen)
    val model2 = ug.emRefine(wc, model0)
    val (nW, nP, cost) = ug.encodeColumns(model2, "text")
    docs.select(col("doc_id"), nW.as("n_words"), nP.as("n_pieces"),
        cost.as("cost_fp"))
      .orderBy("doc_id")
  }

  /** Mirror: the t33 chain, the unrolled path walk + usage counts +
    * re-derived costs, then a SECOND dp chain under vcost2. */
  val unigramEmEncodeSql: String =
    s"""WITH ${UnigramSql.prefixSql},
       |${UnigramSql.dpSql("")},
       |${UnigramSql.emSql("", "_2")},
       |${UnigramSql.dpSql("_2")},
       |${UnigramSql.dsSql("_2")}""".stripMargin

  // ---- t38: second hard-EM round ------------------------------------------

  /** TWO hard-EM rounds ([[graft.text.UnigramLm.emRefine]] chained):
    * the round-2 model re-counts usage over the round-1 CANONICAL
    * segmentation and re-derives costs — the SentencePiece iteration
    * loop one step further; UnigramLmSpec pins the no-increase law
    * (corpus cost non-increasing round over round). */
  def unigramEm2Encode(spark: SparkSession, dir: String): DataFrame = {
    val ug = graft.text.UnigramLm
    val docs = Tables.load(spark, dir, "documents")
    val wc = graft.ops.StagePersists.track(ug.wordCounts(docs, "text"))
    val model0 = new graft.functions.UnigramEncode.Model(
      ug.pieceCosts(ug.seedVocab(ug.substringCounts(wc), UTopM)),
      ug.MaxPieceLen, ug.MaxWordLen)
    val model3 = ug.emRefine(wc, ug.emRefine(wc, model0))
    val (nW, nP, cost) = ug.encodeColumns(model3, "text")
    docs.select(col("doc_id"), nW.as("n_words"), nP.as("n_pieces"),
        cost.as("cost_fp"))
      .orderBy("doc_id")
  }

  /** Mirror: the t34 chain extended one round — walk chain _2, re-count
    * usage, re-derive vcost_3, third dp chain, final rollup. */
  val unigramEm2EncodeSql: String =
    s"""WITH ${UnigramSql.prefixSql},
       |${UnigramSql.dpSql("")},
       |${UnigramSql.emSql("", "_2")},
       |${UnigramSql.dpSql("_2")},
       |${UnigramSql.emSql("_2", "_3")},
       |${UnigramSql.dpSql("_3")},
       |${UnigramSql.dsSql("_3")}""".stripMargin

  // ---- t35: Gopher quality rules ----------------------------------------

  /** The planted Gopher corpus: the raw documents carry no newlines,
    * symbols, or stop-word variety, so each failure mode is planted in
    * a deterministic doc_id class (the d16/t22 derived-corpus device;
    * first matching branch wins on overlapping ids):
    * %13 → bullet-heavy lines, %17 → ellipsis-ended lines,
    * %19 → '#' symbol spam, %23 → numeric (non-alpha) word spam,
    * %29 → NO stop-word suffix (every other class gets " of the", so
    * the stop rule bites exactly there), %31 → 24-character word spam
    * (mean word length over 10). Short documents fail the word-count
    * rule naturally (~45% of the corpus). */
  private val gopherDeriveSql: String =
    """CASE
      |    WHEN doc_id % 13 = 0 THEN '- ' ||
      |      replace(text, ' table ', chr(10) || '- table ') || ' of the'
      |    WHEN doc_id % 17 = 0 THEN
      |      replace(text, ' value ', ' value...' || chr(10)) || ' of the'
      |    WHEN doc_id % 19 = 0 THEN text || ' of the' || repeat(' ###', 10)
      |    WHEN doc_id % 23 = 0 THEN text || ' of the' || repeat(' 123456', 20)
      |    WHEN doc_id % 29 = 0 THEN text
      |    WHEN doc_id % 31 = 0 THEN text || ' of the' ||
      |      repeat(' zzzzzzzzzzzzzzzzzzzzzzzz', 40)
      |    ELSE text || ' of the' END""".stripMargin

  /** Gopher quality filtering ([[graft.text.Cleaning.gopherRules]] —
    * Rae et al. 2021 A1.1) over the planted corpus: word count, mean
    * word length, symbol ratio, bullet/ellipsis line shares, alpha-word
    * share, stop-word presence — each rule bites for its planted
    * class. Stateless pure columns (stream-legal; spec pins the
    * MemoryStream run). */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), expr(gopherDeriveSql).as("text"))
    graft.text.Cleaning.gopherRules(docs, "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  val gopherQualitySql: String = {
    val stops = graft.text.Cleaning.GopherStops
      .map(s => s"'$s'").mkString(", ")
    s"""WITH gd AS (
       |  SELECT doc_id, $gopherDeriveSql AS text FROM documents),
       |st AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |      w -> w <> '') AS ws,
       |    string_split(text, chr(10)) AS lines,
       |    (len(text) - len(replace(text, '#', '')))::BIGINT AS hashes,
       |    ((len(text) - len(replace(text, '...', ''))) // 3)::BIGINT AS ell
       |  FROM gd),
       |m AS (
       |  SELECT doc_id,
       |    len(ws)::BIGINT AS n_words,
       |    coalesce(list_sum(list_transform(ws, w -> len(w))), 0)::BIGINT
       |      AS totwlen,
       |    len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))::BIGINT
       |      AS alphaw,
       |    len(list_intersect(list_distinct(ws), [$stops]))::BIGINT
       |      AS stop_hits,
       |    hashes, ell,
       |    len(lines)::BIGINT AS n_lines,
       |    len(list_filter(lines, l -> starts_with(l, '- ')
       |      OR starts_with(l, '* ')))::BIGINT AS bulletl,
       |    len(list_filter(lines, l -> ends_with(l, '...')))::BIGINT AS elll
       |  FROM st)
       |SELECT doc_id, n_words, n_lines, stop_hits,
       |  (n_words >= 50 AND n_words <= 100000) AS r_words,
       |  (3 * n_words <= totwlen AND totwlen <= 10 * n_words) AS r_meanlen,
       |  (10 * (hashes + ell) <= n_words) AS r_symbol,
       |  (10 * bulletl <= 9 * n_lines) AS r_bullet,
       |  (10 * elll <= 3 * n_lines) AS r_ellipsis,
       |  (5 * alphaw >= 4 * n_words) AS r_alpha,
       |  (stop_hits >= ${graft.text.Cleaning.GopherMinStops}) AS r_stop,
       |  (n_words >= 50 AND n_words <= 100000
       |   AND 3 * n_words <= totwlen AND totwlen <= 10 * n_words
       |   AND 10 * (hashes + ell) <= n_words
       |   AND 10 * bulletl <= 9 * n_lines
       |   AND 10 * elll <= 3 * n_lines
       |   AND 5 * alphaw >= 4 * n_words
       |   AND stop_hits >= ${graft.text.Cleaning.GopherMinStops}) AS kept
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- t36: DoReMi-style loss-aware domain reweighting -------------------

  /** Per-SOURCE mixture weights from excess LM loss
    * ([[graft.sim.DomainMix.lossReweight]]): the t28 en-trained bigram
    * LM scores every document, sources roll up to average NLL, and
    * each source is upweighted by exp2 of its excess bits-per-gram
    * over the corpus baseline (ladder-exact, capped at 4 bits) — the
    * deterministic one-shot gesture of DoReMi's clipped excess-loss
    * update. Sources differ in language mix, so the en-trained model
    * genuinely separates them. Output: the 20-row sampling mixture. */
  def domainReweight(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.sim.DomainMix.lossReweight(docs,
        docs.filter(col("lang") === "en"), "text", "doc_id", "source")
      .orderBy("domain")
  }

  /** The t36 CTE chain (t .. wt) with an optional population filter
    * (the w19 stream twin trains on the even-id history). */
  private[queries] def domainReweightChainSql(where: String): String = {
    val lm = graft.text.LanguageModel
    val eCase = "CASE " + lm.ladder
      .map { case (thr, ef, _) => s"WHEN q >= $thr THEN $ef" }
      .mkString(" ") + " ELSE 0 END"
    val pCase = "CASE " + lm.ladder
      .map { case (thr, _, p) => s"WHEN q >= $thr THEN $p" }
      .mkString(" ") + " ELSE 1 END"
    val ws4 = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    val topF = 31L * lm.F
    val F = lm.F
    s"""t AS (SELECT doc_id, lang, source, $ws4 AS ws FROM documents $where),
       |gg AS (
       |  SELECT doc_id, lang, g, split_part(g, ' ', 1) AS w1
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM t WHERE len(ws) >= 2)),
       |c2 AS (SELECT g, COUNT(*) AS c2 FROM gg WHERE lang = 'en' GROUP BY g),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM gg WHERE lang = 'en' GROUP BY w1),
       |vv AS (SELECT COUNT(DISTINCT w) + 1 AS v
       |       FROM (SELECT unnest(ws) AS w FROM t WHERE lang = 'en')),
       |qq AS (
       |  SELECT doc_id,
       |    GREATEST(((coalesce(c2.c2, 0) + 1) * ${lm.PScale})
       |      // (coalesce(c1.c1, 0) + vv.v), 1) AS q
       |  FROM gg LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1), vv),
       |per AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       |    SUM($topF - ($eCase) - ((q * $F) // ($pCase)))::BIGINT AS nll_fp
       |  FROM qq GROUP BY doc_id),
       |dom AS (
       |  SELECT t.source AS domain, COUNT(*)::BIGINT AS n_docs,
       |    SUM(coalesce(n_grams, 0))::BIGINT AS n_grams,
       |    SUM(coalesce(nll_fp, 0))::BIGINT AS nll
       |  FROM t LEFT JOIN per USING (doc_id) GROUP BY 1),
       |base AS (SELECT ((SUM(nll) * 1024) // SUM(n_grams))::BIGINT
       |           AS baseline
       |         FROM dom),
       |ex AS (
       |  SELECT domain, n_docs, n_grams,
       |    (CASE WHEN n_grams > 0 THEN (nll * 1024) // n_grams
       |         ELSE ${lm.UnscorableKey} END)::BIGINT AS avg_nll_fp,
       |    (CASE WHEN n_grams > 0 THEN
       |      LEAST(GREATEST((nll * 1024) // n_grams - baseline, 0) // 1024,
       |        ${4L * F})
       |    ELSE 0 END)::BIGINT AS excess_fp
       |  FROM dom CROSS JOIN base),
       |wt AS (
       |  SELECT domain, n_docs, n_grams, avg_nll_fp, excess_fp,
       |    ((CASE excess_fp // $F WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
       |       WHEN 3 THEN 8 ELSE 16 END)
       |     * ($F + (excess_fp - (excess_fp // $F) * $F)))::BIGINT
       |      AS weight_fp
       |  FROM ex)""".stripMargin
  }

  val domainReweightSql: String =
    s"""WITH ${domainReweightChainSql("")}
       |SELECT domain, n_docs, n_grams, avg_nll_fp, excess_fp, weight_fp,
       |  ((weight_fp * 1048576) // SUM(weight_fp) OVER ())::BIGINT
       |    AS share_fp
       |FROM wt ORDER BY domain""".stripMargin

  // ---- t37: HTML -> text extraction (line-density boilerplate) ----------

  /** Page construction — every extractor rule bites: a style+script
    * head (stripped), a nav bar of anchors (fails minWords), an <h1>
    * (short — kept or dropped per doc), two prose paragraphs with
    * stopword-bearing closers (kept), a stopword-bearing promo block of
    * mostly anchor text on every 3rd page (dropped SOLELY by link
    * density — the n_link_dropped telemetry), and a stopword-free
    * copyright footer (dropped by the function-word rule). */
  private[queries] val HtmlHead =
    "<html><head><style>body { color: red; font: 10px }</style>" +
      "<script>for (var i = 0; i < 3; i++) { " +
      "document.write('<div>ad</div>'); }</script></head><body>\n" +
      "<div class=\"nav\"><a href=\"/\">home</a> <a href=\"/about\">" +
      "about us</a> <a href=\"/contact\">contact</a></div>\n<h1>"
  private[queries] val HtmlP1 = "</h1>\n<p>"
  // HtmlP2 carries a raw VERTICAL TAB (U+000B) between "the" and "end."
  // — it pins the cross-engine whitespace class (Java \s eats VT, RE2
  // \s does not; visible() now uses an explicit class on both sides)
  private[queries] val HtmlP2 = " theend.</p>\n<p>"
  private[queries] val HtmlP3 = " and more.</p>\n"
  private[queries] val HtmlPromo =
    "<div>promo promo promo of the day <a href=\"/buy\">buy now</a> " +
      "<a href=\"/buy2\">buy again</a></div>\n"
  private[queries] val HtmlFoot =
    "<div>copyright 2026 example site rights reserved worldwide</div>" +
      "\n</body></html>"

  /** The planted page as a Column over (doc_id, text); `extras` are
    * spliced between the second paragraph's closer and the promo block
    * (l9 adds its corpus-wide boilerplate paragraph there). Shared by
    * t37 and l9 so the construction cannot fork. */
  private[queries] def htmlPageCol(extras: Seq[Column] = Nil): Column =
    concat((Seq(
      lit(HtmlHead), substring(col("text"), 1, 30),
      lit(HtmlP1), substring(col("text"), 31, 170),
      lit(HtmlP2), substring(col("text"), 201, 170),
      lit(HtmlP3)) ++ extras ++ Seq(
      when(col("doc_id") % 3 === 0, lit(HtmlPromo)).otherwise(lit("")),
      lit(HtmlFoot))): _*)

  private[queries] def sqLit(s: String): String =
    s.replace("'", "''").replace("\n", "' || chr(10) || '")

  /** Mirror of [[htmlPageCol]]: the page-construction SQL expression. */
  private[queries] def htmlPageSql(extras: String = ""): String =
    s"""'${sqLit(HtmlHead)}' || substr(text, 1, 30) ||
       |    '${sqLit(HtmlP1)}' || substr(text, 31, 170) ||
       |    '${sqLit(HtmlP2)}' || substr(text, 201, 170) ||
       |    '${sqLit(HtmlP3)}' || $extras
       |    CASE WHEN doc_id % 3 = 0 THEN '${sqLit(HtmlPromo)}' ELSE '' END ||
       |    '${sqLit(HtmlFoot)}'""".stripMargin

  /** The t37 extraction CTE chain over a pages CTE `src(doc_id, html)`:
    * emits b → hocc → pl → pw, where pw carries (doc_id, pos, v, lc,
    * wc, stop) per block — the one source of truth for the extraction
    * mirror, shared verbatim by the t37 and l9 oracles. */
  private[queries] def htmlExtractCtesSql(src: String): String = {
    val stops = graft.text.HtmlText.DefaultStops
      .map(s => s"'$s'").mkString("[", ", ", "]")
    val wsV = "list_filter(string_split_regex(lower(v), '[^a-z0-9]+'), w -> w <> '')"
    s"""b AS (
       |  SELECT doc_id, string_split(regexp_replace(regexp_replace(html,
       |    '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
       |    ' ', 'g'),
       |    '(?i)</(?:p|div|h1|h2|h3|h4|li|tr|ul|ol|table|blockquote)>|<br */?>',
       |    chr(10), 'g'), chr(10)) AS lines
       |  FROM $src),
       |hocc AS (
       |  SELECT doc_id, i AS pos, lines[i] AS line
       |  FROM (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS i
       |        FROM b)),
       |pl AS (
       |  SELECT doc_id, pos,
       |    trim(regexp_replace(regexp_replace(line, '<[^>]*>', ' ', 'g'),
       |      '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS v,
       |    coalesce(list_sum(list_transform(
       |      regexp_extract_all(line, '<a[^>]*>([^<]*)</a>', 1),
       |      y -> CAST(length(y) AS BIGINT))), 0) AS lc
       |  FROM hocc),
       |pw AS (
       |  SELECT doc_id, pos, v, lc, len($wsV) AS wc,
       |    list_has_any($wsV, $stops) AS stop
       |  FROM pl)""".stripMargin
  }

  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val pages = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), htmlPageCol().as("html"))
    graft.text.HtmlText.extract(pages, "html", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  val htmlExtractSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ${htmlPageSql()} AS html
       |  FROM documents),
       |${htmlExtractCtesSql("h")},
       |flags AS (
       |  SELECT doc_id, pos, v, (v <> '') AS nonblank,
       |    (v <> '' AND wc >= 5 AND (stop OR wc >= 15)) AS prose,
       |    (lc * 4 <= length(v)) AS lowlink
       |  FROM pw)
       |SELECT doc_id,
       |  COALESCE(SUM(CASE WHEN nonblank THEN 1 END), 0)::INT AS n_blocks,
       |  COALESCE(SUM(CASE WHEN prose AND lowlink THEN 1 END), 0)::INT
       |    AS n_kept,
       |  COALESCE(SUM(CASE WHEN prose AND NOT lowlink THEN 1 END), 0)::INT
       |    AS n_link_dropped,
       |  COALESCE(string_agg(CASE WHEN prose AND lowlink THEN v END,
       |    chr(10) ORDER BY pos), '') AS text
       |FROM flags GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- t39: the full Gopher repetition suite ------------------------------

  /** Planted repetition corpus (raw documents carry no newlines and a
    * 31-word vocabulary): lines A/B/C/D are 80-char slices of text;
    * %5 → line A repeated inside para 2 (dup line), %7 → para 1
    * repeated whole (dup para AND dup lines), %11 → a 5-token phrase
    * repeated 3× (dup 5..10-gram mass), %13 → one 2-gram repeated 12×
    * (top-2-gram spike). First matching branch composes with the
    * others arithmetically (plants are independent suffixes). */
  // continuation lines must never START with '||' — the outer
  // stripMargin would strip one pipe (the UrlCanonSql lesson)
  // %19=3 plants EMPTY documents (overriding every other plant) and
  // %19=4 plants NULL — both must land on the kernel's empty-document
  // convention (all-zero fractions, rep_keep) on BOTH engines
  private[graft] val t39DeriveSql: String =
    """CASE WHEN doc_id % 19 = 3 THEN ''
      |    WHEN doc_id % 19 = 4 THEN CAST(NULL AS STRING)
      |    ELSE
      |    substr(text, 1, 80) || chr(10) || substr(text, 81, 80) ||
      |    chr(10) || chr(10) || substr(text, 161, 80) || chr(10) ||
      |    CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 80)
      |         ELSE substr(text, 241, 80) END ||
      |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) ||
      |      substr(text, 1, 80) || chr(10) || substr(text, 81, 80)
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN chr(10) || chr(10) ||
      |      'zq wq yq xq vq zq wq yq xq vq zq wq yq xq vq' ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0 THEN chr(10) || chr(10) ||
      |      repeat('ab cd ', 11) || 'ab cd' ELSE '' END
      |    END""".stripMargin

  /** The FULL Gopher repetition signal suite
    * ([[graft.text.Cleaning.gopherRepetition]] — Rae et al. 2021
    * A1.2, completing t13's dup-trigram family): duplicate line /
    * paragraph fractions by count and by character mass, top 2..4-gram
    * character fractions, duplicate 5..10-gram character fractions,
    * and the ANDed threshold verdict — each signal biting for its
    * planted class. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), expr(t39DeriveSql).as("text"))
    graft.text.Cleaning.gopherRepetition(docs, "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  val gopherRepetitionSql: String = {
    val ws4 = "list_filter(string_split_regex(lower(text2), '[^a-z0-9]+'), w -> w <> '')"
    def r4(x: String) = s"FLOOR(($x) * 10000 + 0.5) / 10000.0"
    def frac(num: String, den: String) =
      r4(s"CAST(COALESCE($num, 0) AS DOUBLE) / CAST(GREATEST($den, 1) AS DOUBLE)")
    val cuts = graft.text.Cleaning.GopherRepCuts
    val keep = cuts.map { case (c, thr) => s"$c <= $thr" }.mkString(" AND ")
    s"""WITH gd AS (
       |  SELECT doc_id, COALESCE($t39DeriveSql, '') AS text2
       |  FROM documents),
       |lp AS (
       |  SELECT doc_id, 'line' AS g,
       |    unnest(list_filter(string_split(text2, chr(10)), p -> p <> '')) AS p
       |  FROM gd
       |  UNION ALL
       |  SELECT doc_id, 'para',
       |    unnest(list_filter(string_split(text2, chr(10) || chr(10)),
       |      p -> p <> ''))
       |  FROM gd),
       |pc AS (SELECT doc_id, g, p, COUNT(*)::BIGINT AS c
       |       FROM lp GROUP BY 1, 2, 3),
       |pa AS (
       |  SELECT doc_id, g, SUM(c)::BIGINT AS n,
       |    COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0)::BIGINT AS dup,
       |    SUM(c * LENGTH(p))::BIGINT AS chars,
       |    COALESCE(SUM(CASE WHEN c > 1 THEN c * LENGTH(p) END), 0)::BIGINT
       |      AS dupchars
       |  FROM pc GROUP BY 1, 2),
       |tk AS (SELECT doc_id, LENGTH(text2)::BIGINT AS tlen, $ws4 AS ws
       |       FROM gd),
       |gr AS (
       |  SELECT doc_id, tlen, n,
       |    unnest(list_transform(range(1, len(ws) - n + 2),
       |      i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
       |  FROM (SELECT doc_id, tlen, ws,
       |          unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n
       |        FROM tk)
       |  WHERE len(ws) >= n),
       |gc AS (SELECT doc_id, n, gram, MAX(tlen) AS tlen,
       |         COUNT(*)::BIGINT AS c
       |       FROM gr GROUP BY 1, 2, 3),
       |ga AS (
       |  SELECT doc_id, n, MAX(tlen) AS tlen,
       |    COALESCE(SUM(CASE WHEN c > 1 THEN c * LENGTH(gram) END), 0)::BIGINT
       |      AS dupchars
       |  FROM gc GROUP BY 1, 2),
       |topg AS (
       |  SELECT doc_id, n, c * LENGTH(gram) AS topchars FROM (
       |    SELECT doc_id, n, gram, c,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id, n
       |        ORDER BY c DESC, gram) AS rn
       |    FROM gc)
       |  WHERE rn = 1),
       |fr AS (
       |  SELECT d.doc_id,
       |    COALESCE(pl.n, 0)::BIGINT AS n_lines,
       |    ${frac("pl.dup", "pl.n")} AS dup_line_frac,
       |    ${frac("pl.dupchars", "pl.chars")} AS dup_line_char_frac,
       |    COALESCE(pp.n, 0)::BIGINT AS n_paras,
       |    ${frac("pp.dup", "pp.n")} AS dup_para_frac,
       |    ${frac("pp.dupchars", "pp.chars")} AS dup_para_char_frac,
       |    ${(2 to 4).map(n =>
              frac(s"(SELECT topchars FROM topg t WHERE t.doc_id = d.doc_id AND t.n = $n)",
                "LENGTH(d.text2)") + s" AS top_${n}gram_char_frac")
              .mkString(",\n    ")},
       |    ${(5 to 10).map(n =>
              frac(s"(SELECT dupchars FROM ga a WHERE a.doc_id = d.doc_id AND a.n = $n)",
                "LENGTH(d.text2)") + s" AS dup_${n}gram_char_frac")
              .mkString(",\n    ")}
       |  FROM gd d
       |  LEFT JOIN pa pl ON pl.doc_id = d.doc_id AND pl.g = 'line'
       |  LEFT JOIN pa pp ON pp.doc_id = d.doc_id AND pp.g = 'para')
       |SELECT *, ($keep) AS rep_keep FROM fr ORDER BY doc_id""".stripMargin
  }

  // ---- t40: deterministic training-order shuffle + sharding --------------

  private val ShuffleShards = 8
  private val ShuffleSeed = "r13"

  /** [[graft.text.Sampling.shuffleShards]] over the corpus: the
    * reproducible global shuffle a training dataloader reads — shard
    * and within-shard order are pure functions of (seed, doc_id), so
    * any re-run or resume produces byte-identical training files; a
    * new seed re-deals the epoch. One hash-balanced shuffle + a
    * per-shard sort; no global sort anywhere. */
  def shuffleShardsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id")
    graft.text.Sampling.shuffleShards(docs, "doc_id",
        ShuffleShards, ShuffleSeed)
      .select("doc_id", "shard", "seq")
      .orderBy("shard", "seq")
  }

  val shuffleShardsSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)),
       |      1, 15))::UBIGINT::BIGINT AS k
       |  FROM documents)
       |SELECT doc_id, k % $ShuffleShards AS shard,
       |  ROW_NUMBER() OVER (PARTITION BY k % $ShuffleShards
       |    ORDER BY k, doc_id) AS seq
       |FROM h ORDER BY shard, seq""".stripMargin

  // ---- t41: leakage-free (near-dup-component-aware) split ----------------

  /** [[graft.text.Sampling.componentSplit]] over the corpus plus a
    * planted near-dup copy of every 10th document: MinHash pairs at
    * the d4 parameters → connected components → every component
    * assigned to ONE split by the hash of its root id, singletons by
    * their own id (≡ the t16 doc-grain split on them). The plants
    * guarantee multi-member groups whose members' OWN id hashes
    * disagree — the leakage t16 permits and this operator removes;
    * ComponentSplitSpec pins the no-straddle law and the
    * singleton ≡ t16 identity on constructed corpora. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents").select("doc_id", "text")
    Tables.requireIdHeadroom(base, "doc_id")
    val lake = base.unionByName(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate crawl copy")).as("text")))
    val pairs = graft.dedup.Dedup.minhashNearDuplicates(lake, "text",
        "doc_id", shingleSize = 3, numPerms = 16, rowsPerBand = 4,
        threshold = 0.8)
      .select("ida", "idb")
    val labels = graft.dedup.Components
      .adaptiveComponents(pairs, "ida", "idb")
    Sampling.componentSplit(lake, labels, "doc_id", SplitFractions)
      .select("doc_id", "group_key", "split")
      .orderBy("doc_id")
  }

  val leakageSafeSplitSql: String = {
    val ws = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"
    val h30 = "(('0x' || substr(md5(g), 1, 15))::UBIGINT % 1073741824)::BIGINT"
    val perms = (0 until 16).map { p =>
      val a = 2 * (p + 1) + 1
      val b = (7919L * (p + 1)) % graft.dedup.Dedup.P
      s"SELECT doc_id AS id, $p AS perm_id, MIN(($a * h + $b) % ${graft.dedup.Dedup.P}) AS min_hash FROM hashes GROUP BY doc_id"
    }.mkString("\nUNION ALL\n")
    val thr = Sampling.splitThresholds(SplitFractions)
    s"""WITH RECURSIVE lake AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    text || ' near duplicate crawl copy'
       |  FROM documents WHERE doc_id % 10 = 0),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 1, 1)),
       |    i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS g
       |  FROM lake WHERE len($ws) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |hashes AS (SELECT doc_id, $h30 AS h FROM grams),
       |sigs AS ($perms),
       |bands AS (
       |  SELECT id, perm_id // 4 AS band,
       |    md5(string_agg(min_hash::VARCHAR, ',' ORDER BY perm_id)) AS bucket
       |  FROM sigs GROUP BY id, perm_id // 4),
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.id < b.id),
       |jpairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  JOIN cands c ON c.ida = a.doc_id AND c.idb = b.doc_id
       |  GROUP BY 1, 2),
       |mh_pairs AS (
       |  SELECT ida, idb FROM jpairs
       |  JOIN sizes sa ON ida = sa.doc_id
       |  JOIN sizes sb ON idb = sb.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
       |          >= 0.8),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM mh_pairs
       |          UNION SELECT idb, ida FROM mh_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp
       |  FROM reach GROUP BY src),
       |keyed AS (
       |  SELECT l.doc_id, COALESCE(lab.comp, l.doc_id) AS group_key
       |  FROM lake l LEFT JOIN labels lab USING (doc_id))
       |SELECT doc_id, group_key,
       |  CASE WHEN h < ${thr(0)} THEN 'train'
       |       WHEN h < ${thr(1)} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, group_key,
       |  ('0x' || substr(md5(group_key::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
       |  FROM keyed)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- t42: validated PII (Luhn cards, octet-checked IPv4) ---------------

  /** [[graft.text.Pii.validatedRedact]] over plants whose validity is
    * DERIVED, not asserted: every 13th doc gets a card whose Luhn
    * check digit is computed from its own id digits (the identical
    * integer formula in both engines), every 17th the same card with
    * check+1 (guaranteed invalid candidate), every 19th a valid
    * dotted quad, every 23rd an octet-overflowing one. The hash gate
    * therefore pins the whole validation arithmetic, not just the
    * patterns. */
  def validatedPii(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    def dd(x: Column): Column =
      when(x * 2 < 10, x * 2).otherwise(x * 2 - 9)
    val d2 = floor((col("doc_id") % 1000) / 100).cast("int")
    val d1 = floor((col("doc_id") % 100) / 10).cast("int")
    val d0 = (col("doc_id") % 10).cast("int")
    val check = (lit(10) - (lit(8) + dd(d2) + d1 + dd(d0)) % 10) % 10
    def card(chk: Column): Column = concat(lit("4"), lit("00000000000"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      chk.cast("string"))
    val t2 = concat(col("text"),
      when(col("doc_id") % 13 === 0,
        concat(lit(" card "), card(check))).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        concat(lit(" ref "), card((check + 1) % 10))).otherwise(lit("")),
      when(col("doc_id") % 19 === 0,
        concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1"))).otherwise(lit("")),
      when(col("doc_id") % 23 === 0, lit(" ip 999.300.1.2"))
        .otherwise(lit("")))
    graft.text.Pii.validatedRedact(
        docs.withColumn("text2", t2), "text2", "doc_id")
      .select(col("id"), col("n_card_candidates"), col("n_card_valid"),
        col("n_ip_candidates"), col("n_ip_valid"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("id")
  }

  val validatedPiiSql: String = {
    def ddSql(x: String) =
      s"CASE WHEN 2 * ($x) < 10 THEN 2 * ($x) ELSE 2 * ($x) - 9 END"
    val luhnFilter =
      """list_filter(regexp_extract_all(text2, '\b\d{16}\b'),
        |    c -> list_sum(list_transform(range(1, 17),
        |      i -> CASE WHEN i % 2 = 1
        |             THEN CASE WHEN 2 * substr(c, i, 1)::INT < 10
        |                    THEN 2 * substr(c, i, 1)::INT
        |                    ELSE 2 * substr(c, i, 1)::INT - 9 END
        |             ELSE substr(c, i, 1)::INT END)) % 10 = 0)"""
        .stripMargin
    s"""WITH luhn AS (
       |  SELECT doc_id,
       |    (10 - (8 + ${ddSql("(doc_id % 1000) // 100")}
       |      + ((doc_id % 100) // 10)
       |      + ${ddSql("doc_id % 10")}) % 10) % 10 AS chk
       |  FROM documents),
       |planted AS (
       |  SELECT d.doc_id,
       |    d.text
       |    || CASE WHEN d.doc_id % 13 = 0 THEN ' card 4' || '00000000000'
       |         || lpad((d.doc_id % 1000)::VARCHAR, 3, '0') || chk::VARCHAR
       |       ELSE '' END
       |    || CASE WHEN d.doc_id % 17 = 0 THEN ' ref 4' || '00000000000'
       |         || lpad((d.doc_id % 1000)::VARCHAR, 3, '0')
       |         || ((chk + 1) % 10)::VARCHAR
       |       ELSE '' END
       |    || CASE WHEN d.doc_id % 19 = 0
       |         THEN ' ip 10.' || (d.doc_id % 256)::VARCHAR || '.0.1'
       |       ELSE '' END
       |    || CASE WHEN d.doc_id % 23 = 0 THEN ' ip 999.300.1.2'
       |       ELSE '' END AS text2
       |  FROM documents d JOIN luhn USING (doc_id))
       |SELECT doc_id AS id,
       |  len(regexp_extract_all(text2, '\\b\\d{16}\\b'))::INT
       |    AS n_card_candidates,
       |  len($luhnFilter)::INT AS n_card_valid,
       |  len(regexp_extract_all(text2,
       |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT
       |    AS n_ip_candidates,
       |  len(regexp_extract_all(text2,
       |    '\\b(25[0-5]|2[0-4]\\d|1?\\d?\\d)\\.(25[0-5]|2[0-4]\\d|1?\\d?\\d)\\.(25[0-5]|2[0-4]\\d|1?\\d?\\d)\\.(25[0-5]|2[0-4]\\d|1?\\d?\\d)\\b'))::INT
       |    AS n_ip_valid,
       |  md5(regexp_replace(regexp_replace(text2,
       |    '\\b\\d{16}\\b', '<CARD>', 'g'),
       |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'))
       |    AS redacted_md5
       |FROM planted ORDER BY id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t42_validated_pii" -> (validatedPii _),
    "t43_distill_calibration" -> (distillCalibration _),
    "t41_leakage_safe_split" -> (leakageSafeSplit _),
    "t40_shuffle_shards" -> (shuffleShardsQuery _),
    "t39_gopher_repetition" -> (gopherRepetition _),
    "t37_html_extract" -> (htmlExtract _),
    "t38_unigram_em2" -> (unigramEm2Encode _),
    "t36_domain_reweight" -> (domainReweight _),
    "t35_gopher_quality" -> (gopherQuality _),
    "t34_unigram_em" -> (unigramEmEncode _),
    "t33_unigram_encode" -> (unigramEncode _),
    "t32_kneser_ney" -> (knPerplexity _),
    "t31_tokenizer_fertility" -> (tokenizerFertility _),
    "t30_lang_lm_gate" -> (langLmGate _),
    "t29_script_lm_gate" -> (scriptLmGate _),
    "t28_lm_perplexity" -> (lmPerplexity _),
    "t27_quality_distill" -> (qualityDistillQuery _),
    "t26_script_stats" -> (scriptStats _),
    "t24_dsir_hashed" -> (dsirHashedScores _),
    "t22_c4_clean" -> (c4Clean _),
    "t23_dsir_scores" -> (dsirScores _),
    "t21_budget_select" -> (budgetSelect _),
    "t19_tfidf_keywords" -> (tfidfKeywords _),
    "t20_split_familiarity" -> (crossSplitFamiliarity _),
    "t17_piece_chunks" -> (pieceChunks _),
    "t18_bpe_merges" -> (bpeMerges _),
    "t25_bpe_encode" -> (bpeEncode _),
    "t16_dataset_split" -> (datasetSplit _),
    "t15_trigram_familiarity" -> (trigramFamiliarity _),
    "t14_subword_tokens" -> (subwordTokens _),
    "t1_lang_id" -> (langId _),
    "t2_quality" -> (quality _),
    "t3_token_stats" -> (tokenStats _),
    "t4_fingerprints" -> (fingerprints _),
    "t5_oov_tokens" -> (oovTokens _),
    "t6_typo_pairs" -> (typoPairs _),
    "t7_chunks" -> (chunks _),
    "t8_lang_quota" -> (langQuota _),
    "t9_packed" -> (packed _),
    "t10_bin_segments" -> (binSegments _),
    "t11_weighted_sample" -> (weightedSample _),
    "t12_redact" -> (redact _),
    "t13_repetition" -> (repetition _))

  def oracleSql: Map[String, String] = Map(
    "t42_validated_pii" -> validatedPiiSql,
    "t43_distill_calibration" -> distillCalibrationSql,
    "t41_leakage_safe_split" -> leakageSafeSplitSql,
    "t40_shuffle_shards" -> shuffleShardsSql,
    "t39_gopher_repetition" -> gopherRepetitionSql,
    "t37_html_extract" -> htmlExtractSql,
    "t38_unigram_em2" -> unigramEm2EncodeSql,
    "t36_domain_reweight" -> domainReweightSql,
    "t35_gopher_quality" -> gopherQualitySql,
    "t34_unigram_em" -> unigramEmEncodeSql,
    "t33_unigram_encode" -> unigramEncodeSql,
    "t32_kneser_ney" -> knPerplexitySql,
    "t31_tokenizer_fertility" -> tokenizerFertilitySql,
    "t30_lang_lm_gate" -> langLmGateSql,
    "t29_script_lm_gate" -> scriptLmGateSql,
    "t28_lm_perplexity" -> lmPerplexitySql,
    "t27_quality_distill" -> qualityDistillSql,
    "t26_script_stats" -> scriptStatsSql,
    "t24_dsir_hashed" -> dsirHashedScoresSql,
    "t22_c4_clean" -> c4CleanSql,
    "t23_dsir_scores" -> dsirScoresSql,
    "t21_budget_select" -> budgetSelectSql,
    "t19_tfidf_keywords" -> tfidfKeywordsSql,
    "t20_split_familiarity" -> crossSplitFamiliaritySql,
    "t17_piece_chunks" -> pieceChunksSql,
    "t18_bpe_merges" -> bpeMergesSql,
    "t25_bpe_encode" -> bpeEncodeSql,
    "t16_dataset_split" -> datasetSplitSql,
    "t15_trigram_familiarity" -> trigramFamiliaritySql,
    "t14_subword_tokens" -> subwordTokensSql,
    "t1_lang_id" -> langIdSql,
    "t2_quality" -> qualitySql,
    "t3_token_stats" -> tokenStatsSql,
    "t4_fingerprints" -> fingerprintsSql,
    "t5_oov_tokens" -> oovTokensSql,
    "t6_typo_pairs" -> typoPairsSql,
    "t7_chunks" -> chunksSql,
    "t8_lang_quota" -> langQuotaSql,
    "t9_packed" -> packedSql,
    "t10_bin_segments" -> binSegmentsSql,
    "t11_weighted_sample" -> weightedSampleSql,
    "t12_redact" -> redactSql,
    "t13_repetition" -> repetitionSql)
}
