package graft.queries

import graft.Tables
import graft.dedup.{Components, Decontamination, Dedup}
import graft.functions.BigramScore
import graft.text.{Chunking, Packing, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-preparation flagship: every stage is an
  * already-oracled operator, composed the way a training-data pipeline
  * actually runs them —
  *
  *   exact dedup → MinHash-LSH near-dup components (keep canonical)
  *   → quality filter → token-window chunking → sequence packing
  *
  * Input is the d1 construction (documents ∪ id-shifted copy) so the
  * exact-dedup stage demonstrably collapses something; the survivors
  * are the original ids, the LSH/component stage then drops
  * non-canonical near-dups, the round4'd quality score gates at 0.9,
  * and the remainder is chunked and packed into 512-token bins.
  *
  * Scale shape: the composition introduces ONE new operator beyond the
  * certified stages — a left_anti equi-join on doc_id (shuffle on the
  * id, skew-free) — so the whole pipeline inherits the per-stage plans:
  * hash-group dedup, banded equi-joins to fixpoint, map-side scoring
  * and explode, range-partitioned prefix sums. No windows over the
  * corpus, no driver data.
  */
object CorpusQueries {

  /** Persist a stage-boundary survivor frame: each pipeline stage has
    * 2-3 downstream consumers (a metrics branch plus the filter join,
    * or an aggregation plus the data pass), and without a persist each
    * consumer RE-EXECUTES the whole upstream — dedup, LSH, components —
    * once per use (measured 124s → 47s on the sf1 rehearsal of l2).
    * This is the in-engine form of what a production pipeline does
    * between stages (materialize the surviving corpus); MEMORY_AND_DISK
    * so the 100 TB case spills instead of OOMing. Lifecycle contract: a
    * long-lived session calls `graft.ops.StagePersists.release(spark)`
    * after materializing the pipeline result (this engine's entry
    * points drop all persist state between queries instead). */
  private def stage(df: DataFrame): DataFrame =
    graft.ops.StagePersists.track(df)

  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    // stage 1: exact dedup (keep min id per content)
    val exact = stage(Dedup.dropExactDuplicates(doubled, "text", "doc_id"))
    // stage 2: near-dup components over MinHash-LSH pairs; keep canonical
    val pairs = Dedup.minhashNearDuplicates(exact, "text", "doc_id",
        shingleSize = 3, numPerms = DedupQueries.NumPerms, rowsPerBand = 4,
        threshold = 0.8)
      .select(col("ida"), col("idb"))
    val nonCanonical = Components.dupComponents(pairs, "ida", "idb")
      .filter(!col("is_canonical"))
      .select(col("id").as("doc_id"))
    val canon = exact.join(nonCanonical, Seq("doc_id"), "left_anti")
    // stage 3: quality gate (round4'd score, same rounding as t2)
    val kept = canon.filter(
      TextQueries.round4(TextAnalysis.qualityScore("text")) >= 0.9)
    // stages 4-5: chunk and pack (t7/t10 parameters)
    Packing.binSegments(
        Chunking.tokenChunks(kept, "doc_id", "text", window = 32, step = 24),
        "doc_id", "token_start", "n_tokens", seqLen = 512)
      .orderBy("bin_id", "seq")
  }

  // ---- shared DuckDB mirror fragments (l1 + l2) --------------------------

  private val WsSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"

  /** MinHash-LSH verified near-dup pairs → transitive closure →
    * non-canonical ids, over a CTE `exact(doc_id, text, …)` — the
    * d4/d7 oracle fragments shared verbatim by both pipeline mirrors. */
  private def nearDupCtesSql: String = {
    val ws = WsSql
    val h30 = "(('0x' || substr(md5(g), 1, 15))::UBIGINT % 1073741824)::BIGINT"
    val perms = (0 until DedupQueries.NumPerms).map { p =>
      val a = 2 * (p + 1) + 1
      val b = (7919L * (p + 1)) % Dedup.P
      s"SELECT doc_id AS id, $p AS perm_id, MIN(($a * h + $b) % ${Dedup.P}) AS min_hash FROM hashes GROUP BY doc_id"
    }.mkString("\nUNION ALL\n")
    s"""g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 1, 1)),
       |    i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS g
       |  FROM exact WHERE len($ws) >= 3),
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
       |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.8),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM mh_pairs
       |          UNION SELECT idb, ida FROM mh_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)""".stripMargin
  }

  /** Min-id canonical finisher over `reach` (the l1/l2 policy). */
  private val noncanonCteSql: String =
    """noncanon AS (
      |  SELECT src AS doc_id FROM reach GROUP BY src
      |  HAVING src <> LEAST(src, MIN(dst)))""".stripMargin

  private val WsqSql =
    "list_filter(string_split_regex(lower(text), '[^a-zà-ÿ0-9]+'), w -> w <> '')"

  /** The t2 quality score scaled to an exact ×10⁴ integer (as a
    * DOUBLE-valued FLOOR; callers CAST) — the order-independent form
    * summable across engines. Shared with the r14 source-rules
    * mirror. */
  private[queries] val qualityE4ExprSql: String = qualityExprSqlParts
  /** The t2 quality-score expression (round4'd) over a `text` column —
    * mirrors TextAnalysis.qualityScore term by term. Shared with the
    * d11 keep-best mirror. */
  private[queries] val qualityExprSql: String = s"$qualityE4ExprSql / 10000.0"
  private lazy val qualityExprSqlParts: String = {
    val len = "CAST(LENGTH(text) AS DOUBLE)"
    val alpha = "CAST(LENGTH(regexp_replace(text, '[^A-Za-zà-ÿ]', '', 'g')) AS DOUBLE)"
    val digits = "CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    val punct = "CAST(LENGTH(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)"
    val nTok = s"CAST(len($WsqSql) AS DOUBLE)"
    s"""FLOOR((
       |      (CASE WHEN $len >= 200 AND $len <= 20000 THEN 1.0
       |            WHEN $len < 200 THEN $len / 200.0
       |            ELSE 20000.0 / $len END) * 0.3
       |      + (CASE WHEN $len > 0 THEN $alpha / $len ELSE 0.0 END) * 0.3
       |      + (CASE WHEN $nTok > 0 THEN
       |           CASE WHEN $alpha / $nTok >= 3 AND $alpha / $nTok <= 10
       |                THEN 1.0 ELSE 0.5 END
       |         ELSE 0.0 END) * 0.2
       |      + (1.0 - LEAST((CASE WHEN $len > 0 THEN $punct / $len ELSE 1.0 END) * 5, 1.0)) * 0.1
       |      + (1.0 - LEAST((CASE WHEN $len > 0 THEN $digits / $len ELSE 1.0 END) * 5, 1.0)) * 0.1
       |    ) * 10000 + 0.5)""".stripMargin
  }

  /** t7 chunking + t10 packing over CTE `src(doc_id, text)` — the final
    * CTEs plus the segment SELECT both mirrors end with. `tokExpr`
    * overrides the whitespace token array (the l7 mirror chunks at the
    * script-aware grain). */
  private def chunkPackTailSql(src: String,
      tokExpr: String = "regexp_extract_all(text, '\\S+')"): String =
    s"""toks AS (
       |  SELECT doc_id, $tokExpr AS t FROM $src),
       |starts AS (
       |  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS token_start
       |  FROM toks WHERE len(t) > 0),
       |chunks AS (
       |  SELECT doc_id, CAST(token_start AS INT) AS token_start,
       |    CAST(len(t[token_start + 1 : token_start + 32]) AS INT) AS n_tokens
       |  FROM starts),
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

  /** DuckDB mirror of [[corpusPipeline]]: the d1/d4/d7/t2/t7/t10
    * oracle fragments chained as CTEs over each stage's survivors. */
  val corpusPipelineSql: String =
    s"""WITH RECURSIVE doubled AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |exact AS (
       |  SELECT MIN(doc_id) AS doc_id, text FROM doubled GROUP BY text),
       |$nearDupCtesSql,
       |$noncanonCteSql,
       |kept AS (
       |  SELECT e.doc_id, e.text FROM exact e
       |  WHERE e.doc_id NOT IN (SELECT doc_id FROM noncanon)
       |    AND $qualityExprSql >= 0.9),
       |${chunkPackTailSql("kept")}""".stripMargin

  /** The COMPLETE "web crawl → training corpus" pipeline — every stage
    * a certified operator, in the order a production run applies them:
    *
    *   exact dedup → MinHash-LSH near-dup components (keep canonical)
    *   → benchmark decontamination (drop docs sharing any distinct
    *     5-gram with the eval set = every 10th original document)
    *   → quality gate (round4'd score ≥ 0.9) + Gopher repetition
    *     filter (round4'd dup_trigram_frac < 0.3)
    *   → temperature sampling at α=0.5 by language
    *   → token-window chunking → 512-token sequence packing
    *
    * Beyond l1's stages this composition adds only broadcast-probe
    * joins (decontamination's eval grams, sampling's per-language
    * thresholds) and one more partially-aggregated groupBy (trigram
    * fracs) — no new shuffle family, so the 100 TB shape is inherited
    * stage by stage. */
  def fullPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text")))
    // stage 1: exact dedup (keep min id per content)
    val exact = stage(Dedup.dropExactDuplicates(doubled, "text", "doc_id"))
    // stage 2: near-dup components over MinHash-LSH pairs; keep canonical
    val pairs = Dedup.minhashNearDuplicates(exact, "text", "doc_id",
        shingleSize = 3, numPerms = DedupQueries.NumPerms, rowsPerBand = 4,
        threshold = 0.8)
      .select(col("ida"), col("idb"))
    val nonCanonical = Components.dupComponents(pairs, "ida", "idb")
      .filter(!col("is_canonical"))
      .select(col("id").as("doc_id"))
    val canon = exact.join(nonCanonical, Seq("doc_id"), "left_anti")
    // stage 3: decontamination against the eval set (d8 construction)
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val decon = stage(Decontamination.decontaminate(canon, evalSet, "text",
      "doc_id", n = 5))
    // stage 4: quality gate + repetition filter (t2/t13 roundings).
    // dup_trigram_frac comes from the fused per-row kernel (the w13
    // device, pinned bit-identical to the aggregated form in
    // RepetitionStatsSpec) instead of repetitionMetrics' two shuffles
    // + join — the gate is a pure map (r13 optimization).
    val kept = stage(decon
      .filter(TextQueries.round4(TextAnalysis.qualityScore("text")) >= 0.9 &&
        TextQueries.round4(TextAnalysis.inlineDupTrigramFrac("text")) < 0.3)
      .select(col("doc_id"), col("lang"), col("text")))
    // stage 5: temperature-rebalanced sampling by language (t11)
    val sampled = Sampling.temperatureSample(kept, "lang", "doc_id")
    // stages 6-7: chunk and pack (t7/t10 parameters)
    Packing.binSegments(
        Chunking.tokenChunks(sampled, "doc_id", "text", window = 32, step = 24),
        "doc_id", "token_start", "n_tokens", seqLen = 512)
      .orderBy("bin_id", "seq")
  }

  /** DuckDB mirror of [[fullPipeline]]: the l1 CTE chain extended with
    * the d8 decontamination probe, the t13 trigram fracs, and the t11
    * threshold sample over each stage's survivors. */
  val fullPipelineSql: String = {
    val ws = WsSql
    val gram5 = (1 to 5).map(k => s"$ws[i${if (k == 1) "" else s"+${k - 1}"}]")
      .mkString(" || ' ' || ")
    s"""WITH RECURSIVE doubled AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, lang, text FROM documents),
       |exact AS (
       |  SELECT d.doc_id, d.lang, d.text FROM doubled d
       |  JOIN (SELECT text, MIN(doc_id) AS keep FROM doubled GROUP BY text) w
       |    ON d.text = w.text AND d.doc_id = w.keep),
       |$nearDupCtesSql,
       |$noncanonCteSql,
       |canon AS (
       |  SELECT doc_id, lang, text FROM exact
       |  WHERE doc_id NOT IN (SELECT doc_id FROM noncanon)),
       |cg0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 3, 1)),
       |    i -> $gram5)) AS g
       |  FROM canon WHERE len($ws) >= 5),
       |cgrams AS (SELECT DISTINCT doc_id, g FROM cg0),
       |eg0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 3, 1)),
       |    i -> $gram5)) AS g
       |  FROM documents WHERE doc_id % 10 = 0 AND len($ws) >= 5),
       |egrams AS (SELECT DISTINCT g FROM eg0),
       |flagged AS (SELECT DISTINCT c.doc_id FROM cgrams c JOIN egrams e USING (g)),
       |decon AS (
       |  SELECT doc_id, lang, text FROM canon
       |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       |rtoks AS (SELECT doc_id, $WsqSql AS ts FROM decon),
       |rgrams AS (
       |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM rtoks)
       |  WHERE i <= len(ts) - 2),
       |rcnt AS (SELECT doc_id, g, count(*) AS c FROM rgrams GROUP BY 1, 2),
       |ragg AS (SELECT doc_id, sum(c) AS total,
       |           coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup
       |         FROM rcnt GROUP BY 1),
       |kept AS (
       |  SELECT d.doc_id, d.lang, d.text FROM decon d LEFT JOIN ragg r USING (doc_id)
       |  WHERE $qualityExprSql >= 0.9
       |    AND FLOOR(coalesce(CAST(r.dup AS DOUBLE) / CAST(r.total AS DOUBLE), 0.0)
       |      * 10000 + 0.5) / 10000.0 < 0.3),
       |counts AS (SELECT lang, COUNT(*) AS n FROM kept GROUP BY lang),
       |mn AS (SELECT MIN(n) AS n_min FROM counts),
       |probs AS (
       |  SELECT lang,
       |    CAST(FLOOR(LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 1.0)
       |      * 1152921504606846976.0) AS BIGINT) AS thr
       |  FROM counts, mn),
       |sampled AS (
       |  SELECT k.doc_id, k.text FROM kept k JOIN probs p ON k.lang = p.lang
       |  WHERE ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT < p.thr),
       |${chunkPackTailSql("sampled")}""".stripMargin
  }

  // ---- l3: the curated pipeline (round-8 policies) -----------------------

  /** The l2 chain upgraded with this round's curation policies:
    * a batch-trained source blocklist gates ingestion (the r14
    * thresholds, applied as a broadcast anti-join — the data-plane
    * form; the rule emission is r14's), and near-dup components keep
    * their highest-QUALITY member (the d11 policy) instead of min-id.
    * Everything downstream (decontamination, quality/repetition gates,
    * temperature sampling, chunk, pack) is the certified l2 tail. */
  def curatedPipeline(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // stage 0: source gate — the r14 blocklist trained on the raw corpus
    val blocked = graft.rules.CorpusRules.sourceStats(raw, "source", "text",
        minAvgQuality = 0.91, maxShortFrac = 0.45)
      .filter(col("blocked")).select("source")
    val docs = raw.join(broadcast(blocked), Seq("source"), "left_anti")
      .select(col("doc_id"), col("lang"), col("text"))
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text")))
    // stage 1: exact dedup. The round4'd quality is computed ONCE here
    // and persisted with the stage (r13 optimization): it feeds both
    // the keep-best score and the stage-4 gate, which each re-ran the
    // branchy quality expression over ~the whole corpus.
    val exact = stage(Dedup.dropExactDuplicates(doubled, "text", "doc_id")
      .withColumn("__q", TextQueries.round4(TextAnalysis.qualityScore("text"))))
    // stage 2: near-dup components, keep-BEST quality (d11; ties → lowest id)
    val pairs = Dedup.minhashNearDuplicates(exact, "text", "doc_id",
        shingleSize = 3, numPerms = DedupQueries.NumPerms, rowsPerBand = 4,
        threshold = 0.8)
      .select(col("ida"), col("idb"))
    val labels = Components.adaptiveComponents(pairs, "ida", "idb")
    val scored = exact.select(col("doc_id").as("id"), col("__q").as("q"))
    val nonBest = Components.keepBest(labels, scored, "id", "component_id", "q")
      .filter(!col("keep")).select(col("id").as("doc_id"))
    val canon = exact.join(nonBest, Seq("doc_id"), "left_anti")
    // stage 3: decontamination against the eval set (d8 construction)
    val evalSet = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
    val decon = stage(Decontamination.decontaminate(canon, evalSet, "text",
      "doc_id", n = 5))
    // stage 4: quality gate (the persisted __q) + repetition filter —
    // the fused per-row dup_trigram_frac kernel (the w13 device, pinned
    // bit-identical in RepetitionStatsSpec) replaces repetitionMetrics'
    // two shuffles + join (r13 optimization)
    val kept = stage(decon
      .filter(col("__q") >= 0.9 &&
        TextQueries.round4(TextAnalysis.inlineDupTrigramFrac("text")) < 0.3)
      .select(col("doc_id"), col("lang"), col("text")))
    // stage 5: temperature-rebalanced sampling by language (t11)
    val sampled = Sampling.temperatureSample(kept, "lang", "doc_id")
    // stages 6-7: chunk and pack (t7/t10 parameters)
    Packing.binSegments(
        Chunking.tokenChunks(sampled, "doc_id", "text", window = 32, step = 24),
        "doc_id", "token_start", "n_tokens", seqLen = 512)
      .orderBy("bin_id", "seq")
  }

  /** Mirror: the l2 CTE chain with a blocked-source gate at the head
    * and a per-component quality argmax replacing the min-id
    * finisher. */
  val curatedPipelineSql: String = {
    val ws = WsSql
    val gram5 = (1 to 5).map(k => s"$ws[i${if (k == 1) "" else s"+${k - 1}"}]")
      .mkString(" || ' ' || ")
    s"""WITH RECURSIVE q0 AS (
       |  SELECT source, CAST($qualityE4ExprSql AS BIGINT) AS e4,
       |    LENGTH(text) AS len
       |  FROM documents),
       |blocked AS (
       |  SELECT source FROM q0 GROUP BY source
       |  HAVING CAST(SUM(e4) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 10000.0)
       |           < CAST(0.91 AS DOUBLE)
       |     OR CAST(SUM(CASE WHEN len < 200 THEN 1 ELSE 0 END) AS DOUBLE)
       |          / CAST(COUNT(*) AS DOUBLE) > CAST(0.45 AS DOUBLE)),
       |src0 AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE source NOT IN (SELECT source FROM blocked)),
       |doubled AS (
       |  SELECT doc_id, lang, text FROM src0
       |  UNION ALL SELECT doc_id + 1000000, lang, text FROM src0),
       |exact AS (
       |  SELECT d.doc_id, d.lang, d.text FROM doubled d
       |  JOIN (SELECT text, MIN(doc_id) AS keep FROM doubled GROUP BY text) w
       |    ON d.text = w.text AND d.doc_id = w.keep),
       |$nearDupCtesSql,
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp
       |  FROM reach GROUP BY src),
       |lq AS (
       |  SELECT e.doc_id, l.comp, $qualityExprSql AS q
       |  FROM exact e JOIN labels l USING (doc_id)),
       |nonbest AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
       |      ORDER BY q DESC, doc_id) AS rn
       |    FROM lq)
       |  WHERE rn > 1),
       |canon AS (
       |  SELECT doc_id, lang, text FROM exact
       |  WHERE doc_id NOT IN (SELECT doc_id FROM nonbest)),
       |cg0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 3, 1)),
       |    i -> $gram5)) AS g
       |  FROM canon WHERE len($ws) >= 5),
       |cgrams AS (SELECT DISTINCT doc_id, g FROM cg0),
       |eg0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 3, 1)),
       |    i -> $gram5)) AS g
       |  FROM documents WHERE doc_id % 10 = 0 AND len($ws) >= 5),
       |egrams AS (SELECT DISTINCT g FROM eg0),
       |flagged AS (SELECT DISTINCT c.doc_id FROM cgrams c JOIN egrams e USING (g)),
       |decon AS (
       |  SELECT doc_id, lang, text FROM canon
       |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       |rtoks AS (SELECT doc_id, $WsqSql AS ts FROM decon),
       |rgrams AS (
       |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM rtoks)
       |  WHERE i <= len(ts) - 2),
       |rcnt AS (SELECT doc_id, g, count(*) AS c FROM rgrams GROUP BY 1, 2),
       |ragg AS (SELECT doc_id, sum(c) AS total,
       |           coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup
       |         FROM rcnt GROUP BY 1),
       |kept AS (
       |  SELECT d.doc_id, d.lang, d.text FROM decon d LEFT JOIN ragg r USING (doc_id)
       |  WHERE $qualityExprSql >= 0.9
       |    AND FLOOR(coalesce(CAST(r.dup AS DOUBLE) / CAST(r.total AS DOUBLE), 0.0)
       |      * 10000 + 0.5) / 10000.0 < 0.3),
       |counts AS (SELECT lang, COUNT(*) AS n FROM kept GROUP BY lang),
       |mn AS (SELECT MIN(n) AS n_min FROM counts),
       |probs AS (
       |  SELECT lang,
       |    CAST(FLOOR(LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 1.0)
       |      * 1152921504606846976.0) AS BIGINT) AS thr
       |  FROM counts, mn),
       |sampled AS (
       |  SELECT k.doc_id, k.text FROM kept k JOIN probs p ON k.lang = p.lang
       |  WHERE ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT < p.thr),
       |${chunkPackTailSql("sampled")}""".stripMargin
  }

  // ---- l4: release report (the dataset card) ----------------------------

  private val ReportFractions =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** The per-(split, language) RELEASE REPORT — the dataset card a
    * corpus consumer reads next to [[graft.text.CorpusRelease]]'s
    * layout: document and token counts, exact-duplicate share
    * (corpus-wide content-hash frequency > 1), and mean quality. All
    * integer-exact until one closing division: tokens and the ×10⁴
    * fixed-point quality sum aggregate as longs, so group order
    * cannot drift the result between engines.
    *
    * Scale shape: one corpus-wide content-hash count (partial-agg
    * groupBy) joined back on the hash (linear equi-join), then ONE
    * partially-aggregated groupBy(split, lang) whose per-row
    * expressions (split assignment, token count, quality) are all
    * map-side native kernels. */
  def releaseReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{Sampling, TextAnalysis}
    val d = Tables.load(spark, dir, "documents")
    val s = Sampling.splitAssign(d, "doc_id", ReportFractions)
    val hc = d.groupBy(md5(col("text")).as("__h")).agg(count(lit(1)).as("__hc"))
    s.withColumn("__h", md5(col("text")))
      .join(hc, "__h")
      .groupBy("split", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount("text")).as("n_tokens"),
        coalesce(sum(when(col("__hc") > 1, 1L)), lit(0L)).as("n_dup_docs"),
        sum(TextAnalysis.qualityE4("text")).as("sum_quality_e4"))
      .withColumn("mean_quality",
        col("sum_quality_e4").cast("double") / lit(10000.0) /
          col("n_docs").cast("double"))
      .orderBy("split", "lang")
  }

  val releaseReportSql: String = {
    val thr = graft.text.Sampling.splitThresholds(ReportFractions)
    val ws = TextQueries.WS
    val q = TextQueries.rawQualitySql
    s"""WITH s AS (
       |  SELECT doc_id, lang, text,
       |    CASE WHEN h < ${thr(0)} THEN 'train'
       |         WHEN h < ${thr(1)} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id, lang, text,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
       |    FROM documents)),
       |hc AS (SELECT md5(text) AS h2, COUNT(*) AS hc FROM documents GROUP BY 1),
       |g AS (
       |  SELECT split, lang, COUNT(*) AS n_docs,
       |    CAST(SUM(len($ws)) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(SUM(CASE WHEN hc > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS n_dup_docs,
       |    CAST(SUM(CAST(FLOOR($q * 10000 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS sum_quality_e4
       |  FROM s JOIN hc ON md5(s.text) = hc.h2
       |  GROUP BY 1, 2)
       |SELECT split, lang, n_docs, n_tokens, n_dup_docs, sum_quality_e4,
       |  CAST(sum_quality_e4 AS DOUBLE) / 10000.0 / CAST(n_docs AS DOUBLE)
       |    AS mean_quality
       |FROM g ORDER BY split, lang""".stripMargin
  }

  // ---- l5: the C4 web-crawl pipeline -------------------------------------

  private val NavL =
    "repeated boilerplate navigation line planted on every fourth page."

  /** The C4 construction (Raffel et al. 2020 §2.2) end-to-end over the
    * LINE-grain stages this round added: documents recut into planted
    * web-page lines → heuristic cleaning (t22: line word/terminal
    * rules, lorem-ipsum and brace page drops) → corpus-wide
    * line-frequency dedup (d14: every later occurrence of an exact
    * line removed) → exact page dedup of the post-clean text (d1
    * family, min-id survivor) → per-doc release stats (token count and
    * rounded quality of the FINAL text). One oracled query; the l2/l3
    * chains certify the span/near-dup tail this pipeline would feed.
    *
    * Scale shape: every stage is map-side or a keyed equi-join —
    * c4Clean is exchange-free, lineDedup is the inverted-index family,
    * exact dedup one content-hash groupBy; stage persists stop the
    * multi-consumer stages re-running upstream. */
  def c4Pipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val planted = docs.select(col("doc_id"), col("lang"),
      concat(
        substring(col("text"), 1, 60), lit(".\n"),
        substring(col("text"), 61, 60), lit("\n"),
        lit("too short.\n"),
        when(col("doc_id") % 4 === 0, lit(NavL))
          .otherwise(concat(substring(col("text"), 121, 60), lit("."))),
        when(col("doc_id") % 6 === 0,
            lit("\nthis page is lorem ipsum filler text only."))
          .otherwise(lit(""))).as("text"))
    // stage 1: C4 heuristic cleaning (t22) — dropped pages leave
    val cleaned = stage(graft.text.Cleaning.c4Clean(planted, "text", "doc_id",
        minLineWords = 5, minKeptLines = 2)
      .filter(col("kept"))
      .select(col("id").as("doc_id"), col("clean_text").as("text")))
    // stage 2: corpus-wide line dedup (d14) on the cleaned pages
    val lineDeduped = stage(Dedup.lineDedup(cleaned, "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_removed").as("n_dup_lines"),
        col("clean_text").as("text")))
    // stage 3: exact dedup of the final text (min-id survivor)
    val exact = Dedup.dropExactDuplicates(lineDeduped, "text", "doc_id")
    // stage 4: release stats over the FINAL text
    exact.join(planted.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_dup_lines"),
        TextAnalysis.tokenCount("text").as("n_tokens"),
        TextQueries.round4(TextAnalysis.qualityScore("text")).as("quality"))
      .orderBy("doc_id")
  }

  val c4PipelineSql: String = {
    val w4 = "list_filter(string_split_regex(lower(l), '[^a-z0-9]+'), x -> x <> '')"
    s"""WITH planted AS (
       |  SELECT doc_id, lang,
       |    substr(text, 1, 60) || '.' || chr(10) ||
       |    substr(text, 61, 60) || chr(10) ||
       |    'too short.' || chr(10) ||
       |    CASE WHEN doc_id % 4 = 0 THEN '$NavL'
       |         ELSE substr(text, 121, 60) || '.' END ||
       |    CASE WHEN doc_id % 6 = 0
       |      THEN chr(10) || 'this page is lorem ipsum filler text only.'
       |      ELSE '' END AS text
       |  FROM documents),
       |k AS (SELECT doc_id, lang, text,
       |        list_filter(string_split(text, chr(10)),
       |          l -> len($w4) >= 5
       |            AND right(l, 1) IN ('.', '!', '?', '"')) AS keptl
       |      FROM planted),
       |cleaned AS (
       |  SELECT doc_id, coalesce(array_to_string(keptl, chr(10)), '') AS text
       |  FROM k
       |  WHERE NOT lower(text) LIKE '%lorem ipsum%'
       |    AND NOT text LIKE '%{%' AND NOT text LIKE '%}%'
       |    AND len(keptl) >= 2),
       |t AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM cleaned),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, lines[i] AS line
       |  FROM (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS i
       |        FROM t)),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |rm AS (SELECT doc_id, list(pos) AS rm
       |       FROM ranked WHERE rn > 1 GROUP BY doc_id),
       |ld AS (
       |  SELECT t.doc_id,
       |    coalesce(len(rm), 0)::BIGINT AS n_dup_lines,
       |    coalesce(array_to_string(list_filter(lines, (l, i) -> NOT
       |      list_contains(coalesce(rm, CAST([] AS INTEGER[])), i - 1)),
       |      chr(10)), '') AS text
       |  FROM t LEFT JOIN rm USING (doc_id)),
       |exact AS (
       |  SELECT ld.doc_id, ld.n_dup_lines, ld.text FROM ld
       |  JOIN (SELECT text, MIN(doc_id) AS keep FROM ld GROUP BY text) w
       |    ON ld.text = w.text AND ld.doc_id = w.keep),
       |fin AS (
       |  SELECT e.doc_id, p.lang, e.n_dup_lines, e.text
       |  FROM exact e JOIN planted p USING (doc_id))
       |SELECT doc_id, lang, n_dup_lines,
       |  len(${TextQueries.WS})::BIGINT AS n_tokens,
       |  FLOOR(${TextQueries.rawQualitySql} * 10000 + 0.5) / 10000.0 AS quality
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  // ---- l7: the MULTILINGUAL curated pipeline -----------------------------

  // declared above the SQL val that interpolates them (object-init
  // order: a val reading a val below it silently sees 0)
  private val L7ShingleN = 5
  private val L7MaxDocFreq = 400L
  private val L7Jaccard = 0.5
  /** Script-aware quality gate thresholds (×10⁴): CJK scores center
    * ~0.846 because char tokens take the word-length 0.5 branch, every
    * other script ~0.945 — one global cut would delete or pass a
    * script wholesale, so the gate is per-script config (the same
    * policy shape as the LM percentile cuts). Both literals sit inside
    * their population's distribution, so the gate keeps AND drops
    * documents in every script. */
  private[queries] val L7QCjk = 8440L
  private[queries] val L7QOther = 9400L

  /** The curated pipeline composed SCRIPT-AWARE end to end — the l3
    * chain for a mixed-script crawl, where every stage must bite for
    * BOTH a Latin and a CJK population (plus Cyrillic/Arabic riding
    * along). Input is the t26 derived multilingual corpus with planted
    * exact duplicates (id+10⁶ copies, every script) and planted
    * near-duplicates (80%-prefix copies at id+2·10⁶ for every 7th
    * document, every script):
    *
    *   1. exact dedup (content hash — script-blind by construction)
    *   2. near-dup pairs over SCRIPT-AWARE shingles
    *      ([[graft.text.ScriptText.shingles]]: word 5-grams for
    *      worded scripts, char 5-grams for CJK) through the UNCHANGED
    *      inverted-index jaccard machinery → connected components →
    *      keep the highest-QUALITY member per component (d11 policy,
    *      script-aware quality)
    *   3. per-script quality gate ([[graft.text.ScriptText.qualityE4]]
    *      ≥ per-script config cut — a Chinese document scores on its
    *      merits instead of ≈ 0 under the Latin plane)
    *   4. per-script LM fluency gate ([[graft.text.ScriptLm]]): models
    *      trained on the gate survivors' trusted subset, percentile
    *      cuts per script, unscorable documents tagged and KEPT (the
    *      explicit policy — w13's Latin-plane gate silently dropped
    *      them)
    *   5. temperature sampling by SCRIPT (α = 0.5 — rebalances the
    *      script mix exactly as the l2 language mix)
    *   6. chunking + 512-token packing at the SCRIPT-AWARE token grain
    *      (a spaceless-script document chunks at char-token grain, not
    *      as a handful of giant non-space runs)
    *
    * Scale shape: identical family to l3 stage for stage — content-hash
    * groupBy, df-capped inverted-index join, large-star CC, broadcast
    * count tables, map-side gates, prefix-sum packing. The only new
    * cost is the script census (a fixed set of regex counts, map-side,
    * codegen'd). */
  def multilingualPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{ScriptLm, ScriptText}
    // every 41st document translated into an UNTRACKED letter script
    // (Devanagari): full quality but dominantScript = 'none' — the
    // population that carries the LM gate's unscorable-KEPT policy
    // end to end (stage 4); a letterless filler would die at the
    // quality cut before the policy could bite
    // base MATERIALIZED once (r14; the w15Base convention): the
    // planted-copy union references base three times, so the script
    // derivation (translate CASE) ran once per branch of every
    // downstream pass — and the checkpoint doubles as the pushdown
    // barrier that keeps the derivation CASE out of the fused gate
    // stages' generated code
    val base = TextQueries.Scripts
      .derived(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"),
        when(col("doc_id") % 41 === 0,
          TextQueries.Scripts.toUntracked(col("text2")))
          .otherwise(col("text2")).as("text2"))
      .localCheckpoint(true)
    val doubled = base
      .unionByName(base.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text2")))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          substring(col("text2"), lit(1),
            floor(length(col("text2")) * 0.8).cast("int")).as("text2")))
    // stage 1: exact dedup (min-id survivor). The ×10⁴ script quality
    // is computed ONCE here and persisted with the stage (r13
    // optimization): it feeds both the keep-best score and the stage-3
    // gate, which each re-ran the census kernel over ~the whole corpus.
    val exact = stage(Dedup.dropExactDuplicates(doubled, "text2", "doc_id")
      .withColumn("__q", ScriptText.qualityE4("text2")))
    // stage 2: script-aware near-dups -> components -> keep best quality
    // NO persist on the shingle frame: with the native tokenizer the
    // three pair-machinery consumers each recompute it from the
    // persisted `exact` cheaply, while caching the EXPLODED gram-grain
    // frame (larger than the corpus) costs more than it saves —
    // measured a wash at sf0.1 in r13 and RE-measured in r14 (persist:
    // 11.8 s / 198 task-sec vs recompute: 10.9 s / 185), and strictly
    // worse at scale
    val pairs = Dedup.jaccardPairs(
        ScriptText.shingles(exact, "text2", "doc_id", L7ShingleN),
        threshold = L7Jaccard, maxDocFreq = L7MaxDocFreq)
      .select(col("ida"), col("idb"))
    val labels = Components.adaptiveComponents(pairs, "ida", "idb")
    val scored = exact.select(col("doc_id").as("id"), col("__q").as("q"))
    val nonBest = Components.keepBest(labels, scored, "id", "component_id", "q")
      .filter(!col("keep")).select(col("id").as("doc_id"))
    val canon = exact.join(nonBest, Seq("doc_id"), "left_anti")
    // stage 3: per-script quality gate (reads the persisted __q)
    val withScript = canon.withColumn("script",
      ScriptText.dominantScript(col("text2")))
    val qual = stage(withScript.filter(col("__q") >=
        when(col("script") === "cjk", L7QCjk).otherwise(L7QOther))
      .select("doc_id", "text2", "script"))
    // stage 4: per-script LM percentile gate (unscorable kept, tagged)
    // — deployed in the DENSE form (the w15/w18 device, r13
    // optimization): the hashed counts collect into per-script arrays
    // and scoring is the map-side native kernel, replacing two
    // gram-grain joins + a per-doc re-aggregation + a join back. The
    // kernel is pinned ≡ the hashed-count join form (w15's oracle
    // replays that form in SQL against the kernel output), and qual's
    // persisted `script` column is the same dominantScript expression
    // score() derived internally.
    val ref = qual.filter(col("doc_id") % 3 === 0).select("doc_id", "text2")
    val (c2, c1) = ScriptLm.hashedCounts(ref, "text2",
      TextQueries.SLmB2, TextQueries.SLmB1)
    val lmArr = ScriptLm.denseCounts(c2, c1,
      TextQueries.SLmB2, TextQueries.SLmB1)
    val st = BigramScore(
      ScriptText.tokens(col("text2")), ScriptLm.scriptIndex(col("script")),
      new BigramScore.AddOne(lmArr._1, lmArr._2, TextQueries.SLmB2,
        TextQueries.SLmB1))
    val lmScored = stage(qual
      .withColumn("__st", st)
      .select(col("doc_id").as("id"), col("script"),
        element_at(col("__st"), 1).as("n_grams"),
        element_at(col("__st"), 2).as("nll_fp"),
        (col("script") =!= "none" && element_at(col("__st"), 1) > 0L)
          .as("lm_scorable")))
    val cuts = ScriptLm.percentileCuts(lmScored,
      TextQueries.SLmKeepNum, TextQueries.SLmKeepDen)
    val lmKept = lmScored.join(broadcast(cuts), Seq("script"), "left_outer")
      .filter(when(!col("lm_scorable"), lit(true))
        .otherwise(graft.text.LanguageModel.avgKey(
          col("nll_fp"), col("n_grams")) <= col("cut")))
      .select(col("id").as("doc_id"), col("script"))
    val kept = stage(qual.select("doc_id", "text2").join(lmKept, Seq("doc_id")))
    // stage 5: temperature-rebalanced sampling by script
    val sampled = Sampling.temperatureSample(kept, "script", "doc_id")
    // stages 6-7: chunk and pack at the script-aware token grain
    Packing.binSegments(
        Chunking.tokenChunks(sampled, "doc_id", "text2", window = 32,
          step = 24, keep = Nil, tokenizer = ScriptText.tokens),
        "doc_id", "token_start", "n_tokens", seqLen = 512)
      .orderBy("bin_id", "seq")
  }

  /** Mirror of [[multilingualPipeline]]: the t26 derivation + planted
    * copies, the d16 script-shingle jaccard fragments, the l1 closure,
    * the d11 quality argmax (script-aware quality), the t29 per-script
    * LM CTEs, the l2 threshold sample (keyed by script), and the
    * chunk/pack tail at the script token grain. */
  val multilingualPipelineSql: String = {
    import TextQueries.Scripts
    val toks = Scripts.toksSql("text2")
    val qe4 = Scripts.qualityE4Sql("text2")
    val b2 = TextQueries.SLmB2
    val b1 = TextQueries.SLmB1
    s"""WITH RECURSIVE ${Scripts.derivedSql},
       |base AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 41 = 0
       |         THEN ${TextQueries.Scripts.toUntrackedSql("text2")}
       |         ELSE text2 END AS text2
       |  FROM docs2),
       |tripled AS (
       |  SELECT doc_id, text2 FROM base
       |  UNION ALL SELECT doc_id + 1000000, text2 FROM base
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    substr(text2, 1, CAST(FLOOR(length(text2) * 0.8) AS INT))
       |  FROM base WHERE doc_id % 7 = 0),
       |exact AS (
       |  SELECT t.doc_id, t.text2 FROM tripled t
       |  JOIN (SELECT text2, MIN(doc_id) AS keep FROM tripled GROUP BY text2) w
       |    ON t.text2 = w.text2 AND t.doc_id = w.keep),
       |etoks AS (SELECT doc_id, $toks AS ws FROM exact),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(ws) - ${L7ShingleN - 2}, 1)),
       |    i -> list_aggregate(ws[i:i+${L7ShingleN - 1}], 'string_agg', ' ')))
       |    AS g
       |  FROM etoks WHERE len(ws) >= $L7ShingleN),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |keepg AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= $L7MaxDocFreq),
       |fg AS (SELECT doc_id, g FROM grams JOIN keepg USING (g)),
       |jp AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM fg a JOIN fg b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |mh_pairs AS (
       |  SELECT ida, idb FROM jp
       |  JOIN sizes sa ON ida = sa.doc_id
       |  JOIN sizes sb ON idb = sb.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
       |          >= $L7Jaccard),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM mh_pairs
       |          UNION SELECT idb, ida FROM mh_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp
       |  FROM reach GROUP BY src),
       |eq AS (SELECT doc_id, $qe4 AS qe4 FROM exact),
       |lq AS (
       |  SELECT e.doc_id, l.comp, q.qe4
       |  FROM exact e JOIN labels l USING (doc_id) JOIN eq q USING (doc_id)),
       |nonbest AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
       |      ORDER BY qe4 DESC, doc_id) AS rn
       |    FROM lq)
       |  WHERE rn > 1),
       |canon AS (
       |  SELECT doc_id, text2 FROM exact
       |  WHERE doc_id NOT IN (SELECT doc_id FROM nonbest)),
       |${Scripts.scriptCteSql("canon", "text2")},
       |qual AS (
       |  SELECT c.doc_id, c.text2, s.script
       |  FROM canon c JOIN scr s USING (doc_id) JOIN eq q USING (doc_id)
       |  WHERE q.qe4 >= CASE WHEN s.script = 'cjk' THEN $L7QCjk
       |                      ELSE $L7QOther END),
       |qtoks AS (SELECT doc_id, script, $toks AS ws FROM qual),
       |gg AS (
       |  SELECT doc_id, script, g, split_part(g, ' ', 1) AS w1
       |  FROM (SELECT doc_id, script,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM qtoks WHERE len(ws) >= 2)),
       |${Scripts.lmCountsSql("gg", b2, b1, where = "WHERE doc_id % 3 = 0 ")},
       |${Scripts.lmScoreSql("gg", b2, b1)},
       |sc0 AS (
       |  SELECT u.doc_id, u.script, u.text2,
       |    coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    (u.script <> 'none' AND coalesce(n_grams, 0) > 0) AS lm_scorable
       |  FROM qual u LEFT JOIN per USING (doc_id)),
       |${Scripts.lmCutsSql("sc0", TextQueries.SLmKeepNum, TextQueries.SLmKeepDen)},
       |kept AS (
       |  SELECT s.doc_id, s.script, s.text2
       |  FROM sc0 s LEFT JOIN cuts c USING (script)
       |  WHERE CASE WHEN NOT s.lm_scorable THEN TRUE
       |             ELSE (s.nll_fp * 1024) // s.n_grams <= c.cut END),
       |counts AS (SELECT script, COUNT(*) AS n FROM kept GROUP BY script),
       |mn AS (SELECT MIN(n) AS n_min FROM counts),
       |probs AS (
       |  SELECT script,
       |    CAST(FLOOR(LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 1.0)
       |      * 1152921504606846976.0) AS BIGINT) AS thr
       |  FROM counts, mn),
       |sampled AS (
       |  SELECT k.doc_id, k.text2 AS text FROM kept k
       |  JOIN probs p ON k.script = p.script
       |  WHERE ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT
       |          < p.thr),
       |${chunkPackTailSql("sampled", Scripts.toksSql("text"))}""".stripMargin
  }

  // ---- l6: release-to-release corpus diff --------------------------------

  /** What the new release changed, by CONTENT: the previous release
    * (everything but crawl source src3) diffed against the new one
    * (every fifth document re-crawled away, src3 landed) — documents
    * keyed by text hash, classified added/removed/retained, rolled up
    * per language with document and token mass
    * ([[graft.text.CorpusRelease.releaseDiff]]). The audit twin of the
    * d13/d17/s10 incremental operators. */
  def releaseDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val d = Tables.load(spark, dir, "documents")
      .withColumn("n_toks", TextAnalysis.tokenCount("text"))
    graft.text.CorpusRelease.releaseDiff(
        d.filter(col("source") =!= "src3"),
        d.filter(col("doc_id") % 5 =!= 0),
        "text", "lang", "n_toks")
      .orderBy("status", "lang")
  }

  val releaseDiffSql: String = {
    val ws = TextQueries.WS
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, md5(text) AS h,
       |    len($ws)::BIGINT AS n_toks
       |  FROM documents),
       |o AS (SELECT h, MIN(lang) AS lang, MIN(n_toks) AS t, TRUE AS po
       |      FROM d WHERE source <> 'src3' GROUP BY h),
       |n AS (SELECT h, MIN(lang) AS lang, MIN(n_toks) AS t, TRUE AS pn
       |      FROM d WHERE doc_id % 5 <> 0 GROUP BY h)
       |SELECT
       |  CASE WHEN po IS NULL THEN 'added'
       |       WHEN pn IS NULL THEN 'removed'
       |       ELSE 'retained' END AS status,
       |  CASE WHEN pn IS NOT NULL THEN n.lang ELSE o.lang END AS lang,
       |  COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN pn IS NOT NULL THEN n.t ELSE o.t END)::BIGINT AS n_tokens
       |FROM o FULL JOIN n ON o.h = n.h
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- l9: the crawl pipeline from RAW HTML -------------------------------

  /** A prose-looking boilerplate paragraph planted on EVERY page: the
    * t37 extractor correctly KEEPS it (words, stopwords, no links —
    * jusText cannot know it repeats), and the corpus-level d14 line
    * dedup is what kills it — the division of labor between page-local
    * and corpus-level boilerplate removal this composition exists to
    * pin. */
  private val HtmlNews =
    "<p>subscribe to the newsletter for more of the best content " +
      "every week.</p>\n"

  /** The l5 crawl pipeline recomposed to start from RAW HTML — the
    * round-12 completion of the "crawl dump → corpus" chain:
    *
    *   HTML pages (t37 planted construction + the boilerplate
    *   paragraph above + full re-uploads of every 11th page at
    *   id+10⁶) → t37 line-density extraction → t22 C4 heuristic
    *   cleaning (terminal-punct/min-words/min-lines now bite on the
    *   EXTRACTED prose — e.g. short pages die at minKeptLines) →
    *   exact page dedup of the cleaned text (the re-uploads collapse,
    *   min-id survivor) → corpus-wide line dedup (every later
    *   occurrence of the newsletter line removed) → per-doc release
    *   stats over the FINAL text.
    *
    * Scale shape: extraction and cleaning are map-side pure columns;
    * exact dedup one content-hash groupBy; line dedup the
    * inverted-index family — no new shuffle beyond the certified
    * stages. */
  def htmlPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val pages0 = docs.select(col("doc_id"), col("lang"),
      TextQueries.htmlPageCol(Seq(lit(HtmlNews))).as("html"))
    val pages = pages0.unionByName(pages0.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        col("html")))
    // stage 1: HTML -> text (t37)
    val ex = stage(graft.text.HtmlText.extract(pages, "html", "doc_id")
      .select(col("id").as("doc_id"), col("text")))
    // stage 2: C4 heuristic cleaning (t22) on the extracted prose
    val cleaned = stage(graft.text.Cleaning.c4Clean(ex, "text", "doc_id",
        minLineWords = 5, minKeptLines = 2)
      .filter(col("kept"))
      .select(col("id").as("doc_id"), col("clean_text").as("text")))
    // stage 3: exact page dedup (re-uploads collapse; min-id survivor)
    val exact = stage(Dedup.dropExactDuplicates(cleaned, "text", "doc_id"))
    // stage 4: corpus-wide line dedup (d14) kills the planted
    // boilerplate paragraph everywhere but its first occurrence
    val ld = Dedup.lineDedup(exact, "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_removed").as("n_dup_lines"),
        col("clean_text").as("text"))
    // stage 5: release stats over the FINAL text
    ld.join(pages.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_dup_lines"),
        graft.text.TextAnalysis.tokenCount("text").as("n_tokens"),
        TextQueries.round4(TextAnalysis.qualityScore("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** Mirror: the t37 extraction CTEs over the planted pages, the l5
    * C4/line-dedup fragments over the extracted text, the d1 min-id
    * survivor, and the l5 stats tail. */
  val htmlPipelineSql: String = {
    val w4 = "list_filter(string_split_regex(lower(l), '[^a-z0-9]+'), x -> x <> '')"
    s"""WITH h0 AS (
       |  SELECT doc_id, lang,
       |    ${TextQueries.htmlPageSql(s"'${TextQueries.sqLit(HtmlNews)}' ||")} AS html
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, lang, html FROM h0
       |  UNION ALL SELECT doc_id + 1000000, lang, html FROM h0
       |    WHERE doc_id % 11 = 0),
       |${TextQueries.htmlExtractCtesSql("h")},
       |ex AS (
       |  SELECT doc_id,
       |    COALESCE(string_agg(CASE WHEN v <> '' AND wc >= 5
       |        AND (stop OR wc >= 15) AND lc * 4 <= length(v) THEN v END,
       |      chr(10) ORDER BY pos), '') AS text
       |  FROM pw GROUP BY doc_id),
       |k AS (SELECT doc_id, text,
       |        list_filter(string_split(text, chr(10)),
       |          l -> len($w4) >= 5
       |            AND right(l, 1) IN ('.', '!', '?', '"')) AS keptl
       |      FROM ex),
       |cleaned AS (
       |  SELECT doc_id, coalesce(array_to_string(keptl, chr(10)), '') AS text
       |  FROM k
       |  WHERE NOT lower(text) LIKE '%lorem ipsum%'
       |    AND NOT text LIKE '%{%' AND NOT text LIKE '%}%'
       |    AND len(keptl) >= 2),
       |exact AS (
       |  SELECT c.doc_id, c.text FROM cleaned c
       |  JOIN (SELECT text, MIN(doc_id) AS keep FROM cleaned GROUP BY text) w
       |    ON c.text = w.text AND c.doc_id = w.keep),
       |t AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM exact),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, lines[i] AS line
       |  FROM (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS i
       |        FROM t)),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |rm AS (SELECT doc_id, list(pos) AS rm
       |       FROM ranked WHERE rn > 1 GROUP BY doc_id),
       |ld AS (
       |  SELECT t.doc_id,
       |    coalesce(len(rm), 0)::BIGINT AS n_dup_lines,
       |    coalesce(array_to_string(list_filter(lines, (l, i) -> NOT
       |      list_contains(coalesce(rm, CAST([] AS INTEGER[])), i - 1)),
       |      chr(10)), '') AS text
       |  FROM t LEFT JOIN rm USING (doc_id)),
       |fin AS (
       |  SELECT e.doc_id, p.lang, e.n_dup_lines, e.text
       |  FROM ld e JOIN h p USING (doc_id))
       |SELECT doc_id, lang, n_dup_lines,
       |  len(${TextQueries.WS})::BIGINT AS n_tokens,
       |  FLOOR(${TextQueries.rawQualitySql} * 10000 + 0.5) / 10000.0 AS quality
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l9_html_pipeline" -> (htmlPipeline _),
    "l7_multilingual_pipeline" -> (multilingualPipeline _),
    "l6_release_diff" -> (releaseDiffQuery _),
    "l1_corpus_pipeline" -> (corpusPipeline _),
    "l2_full_pipeline" -> (fullPipeline _),
    "l3_curated_pipeline" -> (curatedPipeline _),
    "l4_release_report" -> (releaseReport _),
    "l5_c4_pipeline" -> (c4Pipeline _))

  def oracleSql: Map[String, String] = Map(
    "l9_html_pipeline" -> htmlPipelineSql,
    "l7_multilingual_pipeline" -> multilingualPipelineSql,
    "l6_release_diff" -> releaseDiffSql,
    "l1_corpus_pipeline" -> corpusPipelineSql,
    "l2_full_pipeline" -> fullPipelineSql,
    "l3_curated_pipeline" -> curatedPipelineSql,
    "l4_release_report" -> releaseReportSql,
    "l5_c4_pipeline" -> c4PipelineSql)
}
