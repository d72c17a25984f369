package graft.queries

import graft.Tables
import graft.dedup.{BloomDedup, Components, Dedup}
import graft.profile.{Profiler, ProfilerConfig}
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.StagePersists

/** l8 — the INCREMENTAL DUMP-INGEST loop, composed end to end: the
  * operational pipeline a between-dumps corpus (the Dolma/CCNet loop)
  * actually runs when crawl dump N+1 arrives against stored state.
  * Every stage is an individually-oracled incremental operator; the
  * composition is what this query pins, because stage CONTRACTS are
  * where composed pipelines break (w13's zero-gram drop hid in a
  * composition, not an operator). Reference anchor: the re-walked
  * lake ingest at `profiling/profiler.py:42-63` (the reference
  * re-profiles the whole directory each run; this is the
  * never-re-scan-the-corpus form).
  *
  *   1. within-dump exact dedup (d1 family, min-id survivor)
  *   2. Bloom prefilter against the stored corpus filter + exact
  *      confirm-join ON THE HIT SLICE ONLY (d20's two-phase shape)
  *   3. near-dup pairs — within-dump (d4) plus dump↔corpus (d13) —
  *      folded into the STORED component map
  *      ([[graft.dedup.Components.incrementalComponents]], d17),
  *      then keep-BEST quality per touched component (d11 policy:
  *      a better re-crawl evicts the stored copy)
  *   4. BM25 index state fold ([[graft.text.Bm25.foldState]], s13) —
  *      postings append, df/totals sums, corpus never re-scanned
  *   5. profile state fold ([[graft.profile.Profiler.mergeStates]],
  *      p11) over the post-ingest lake
  *   6. release manifest of the curated corpus (l4 grain; the disk
  *      append itself — [[graft.text.CorpusRelease.appendDump]] +
  *      foldManifest — is pinned in SinksSpec, which extends to this
  *      composed dump)
  *
  * The output is one long-format frame (section, k, v1, v2) unioning
  * each state surface, and the DuckDB oracle recomputes EVERY section
  * from scratch over the concatenated corpus — hash equality is the
  * cross-engine "incremental ≡ full rebuild" proof for the whole
  * composed loop, not just each piece.
  *
  * Input construction (every stage demonstrably bites):
  * corpus = even doc_ids (the accumulated, already-curated corpus,
  * with its component map / Bloom bits / BM25 state / profile state
  * all built from it); dump = odd doc_ids (fresh content, with the
  * testdata's planted near-dups straddling parity — the d13 probes)
  * ∪ exact re-crawls of every 10th corpus doc at id+10⁶ (Bloom hits)
  * ∪ within-dump copies of every 9th odd doc at id+2·10⁶ (stage-1
  * drops) ∪ REVISED re-crawls of every 14th corpus doc at id+3·10⁶
  * (an alpha-heavy suffix raises the t2 quality, so keep-best evicts
  * the stored copy — the fold's hardest contract).
  *
  * Scale shape: no new shuffle family beyond the certified stages —
  * content-hash groupBy, broadcast bitmap probe + broadcast confirm
  * join, banded equi-joins, blast-radius-bounded incremental closure,
  * term-grain sums, histogram-state sums, one groupBy(lang) rollup.
  * The corpus-sized frames are touched once each; all per-dump work
  * is bounded by the dump and its candidate blast radius.
  */
object IngestQueries {

  // d20 filter geometry; d13/d17 minhash parameters (stored state and
  // fold must agree — the incremental ≡ full proof needs identical
  // candidate generation on both paths)
  private val BloomM = 1 << 16
  private val BloomK = 5
  private val ShingleN = 3
  private val Band = 4
  private val Thr = 0.5
  private val Revision = " revised edition with improved prose quality."

  private def stage(df: DataFrame): DataFrame =
    StagePersists.track(df)

  /** Every stage's frame, exposed for IngestSpec (stage-bite pins and
    * the composed release extension of SinksSpec). */
  private[graft] final case class Ingested(
      dumpRaw: DataFrame, d1: DataFrame, probed: DataFrame, d2: DataFrame,
      newPairs: DataFrame, folded: DataFrame, kb: DataFrame,
      lake: DataFrame, kept: DataFrame, bmState: graft.text.Bm25.State,
      prof: DataFrame)

  def incrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Tables.requireIdHeadroom(docs, "doc_id")
    val corpus = stage(docs.filter(col("doc_id") % 2 === 0))
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val dumpRaw = odd
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("text")))
      .unionByName(odd.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          col("text")))
      .unionByName(corpus.filter(col("doc_id") % 14 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(Revision)).as("text")))
    val s = ingest(corpus, dumpRaw)
    sections(corpus, s)
  }

  /** The composed loop over an arbitrary (corpus, dump) pair — the
    * query wrapper above plants its constructions from testdata;
    * IngestSpec drives a hand-built corpus through the same code. */
  private[graft] def ingest(corpus: DataFrame,
      dumpRaw: DataFrame): Ingested = {
    // stage 1: within-dump exact dedup (min-id survivor)
    val d1 = StagePersists.checkpoint(
      Dedup.dropExactDuplicates(dumpRaw, "text", "doc_id"))
    // stage 2: Bloom prefilter (stored corpus filter, broadcast bitmap,
    // map-side probe) + exact confirm-join on the HIT slice only —
    // false positives are rescued by the confirm, so the gate is exact
    val bm = BloomDedup.bitmap(
      BloomDedup.setBits(corpus, "text", BloomM, BloomK), BloomM)
    val truth = corpus.select(md5(col("text")).as("__h")).distinct()
      .withColumn("__dup", lit(true))
    // Eager checkpoint, not persist: the 2^16-entry bitmap literal in
    // the probe column would otherwise re-embed in the LOGICAL plan of
    // every downstream reference (d2 feeds six sections), and Catalyst
    // walks the multiplied tree at optimize time — the plan-blowup twin
    // of the round-11 w15 pushed-filter case. The barrier replaces the
    // whole probe subtree with a LogicalRDD.
    val probed = StagePersists.checkpoint(d1
      .withColumn("bloom_hit",
        BloomDedup.probeColumn(col("text"), bm, BloomM, BloomK))
      .withColumn("__h", md5(col("text"))))
    val confirmed = probed.filter(col("bloom_hit"))
      .join(broadcast(truth), Seq("__h"), "left_outer")
      .select(col("doc_id"), coalesce(col("__dup"), lit(false)).as("__isdup"))
    val d2 = StagePersists.checkpoint(probed
      .join(confirmed, Seq("doc_id"), "left_outer")
      .filter(!coalesce(col("__isdup"), lit(false)))
      .select("doc_id", "lang", "text"))
    // stage 3: near-dup fold into the stored component map + keep-best.
    // ONE pair machinery over the lake (r14; the d17 treatment):
    // signatures, buckets and Jaccard are per-document/per-pair
    // functions, so the within-corpus / within-dump / cross families
    // are MEMBERSHIP slices of the unified verified pair set over
    // corpus ∪ d2 — the previous shape ran the shingle → bucket →
    // candidate → verify machinery three times over overlapping halves
    // (and the oracle below always computed the unified mh_pairs set
    // over the lake, splitting n_new_pairs by d2 membership exactly as
    // here). Same d13/d17 minhash parameters — the incremental ≡ full
    // proof needs identical candidate generation.
    val lake = corpus.unionByName(d2)
    val ls = stage(Dedup.wordShingles(lake, "text", "doc_id", ShingleN))
    val cands = Dedup.inlineLshCandidates(lake, "text", "doc_id",
      ShingleN, DedupQueries.NumPerms, Band)
    val allPairs =
      Dedup.verifiedPairs(cands, ls, ls, Thr).select("ida", "idb")
    // membership split: a pair endpoint not in d2 is in corpus (the
    // lake is their disjoint union), so flag by two id equi-joins
    // against the checkpointed dump — pair-set sized, broadcastable
    val d2a = d2.select(col("doc_id").as("ida"), lit(true).as("__da"))
    val d2b = d2.select(col("doc_id").as("idb"), lit(true).as("__db"))
    val flagged = stage(allPairs
      .join(d2a, Seq("ida"), "left_outer")
      .join(d2b, Seq("idb"), "left_outer")
      .select(col("ida"), col("idb"),
        (coalesce(col("__da"), lit(false)) ||
          coalesce(col("__db"), lit(false))).as("__new")))
    val corpusPairs = flagged.filter(!col("__new")).select("ida", "idb")
    val stored = Components.adaptiveComponents(corpusPairs, "ida", "idb")
    val newPairs = flagged.filter(col("__new")).select("ida", "idb")
    val folded = StagePersists.checkpoint(
      Components.incrementalComponents(stored, newPairs, "ida", "idb"))
    // no checkpoint on the lake (r13): corpus is persisted and d2 is
    // already a checkpoint, so the union is free to re-derive — the
    // old checkpoint re-materialized a full corpus-sized copy of rows
    // that were already materialized on both sides
    // persisted (r14): keepBest's argmax and join-back both consume
    // the (labels ⋈ scored) frame, so the ×10⁴ quality census ran over
    // the whole lake once per consumer; the persisted frame is two
    // longs per doc
    val scored = stage(lake.select(col("doc_id").as("id"),
      TextAnalysis.qualityE4("text").as("q")))
    val kb = StagePersists.checkpoint(
      Components.keepBest(folded, scored, "id", "component_id", "q")
        .select(col("id").as("doc_id"), col("component_id"), col("keep")))
    // kept has ONE consumer in the query (the manifest rollup; the
    // spec's extra reads are test-side) — a persist would be pure
    // cache write-through (r13)
    val kept = lake.join(
      kb.filter(!col("keep")).select("doc_id"), Seq("doc_id"), "left_anti")

    // stage 4: BM25 state fold (index covers the post-exact-dedup lake;
    // non-canonical docs are filtered at serving time by the membership
    // map — the standard tombstone-free incremental-index layout)
    // both postings frames persisted (r14): the folded state's dfreq
    // and postings surfaces are consumed by separate sections, so each
    // side's corpus-explode + (doc, term) aggregation ran once per
    // surface — the state's dominant pass
    val bmState = graft.text.Bm25.foldState(
      graft.text.Bm25.buildState(corpus, "text", "doc_id",
        Some(stage(graft.text.Bm25.postings(corpus, "text", "doc_id")))),
      graft.text.Bm25.buildState(d2, "text", "doc_id",
        Some(stage(graft.text.Bm25.postings(d2, "text", "doc_id")))))
    // stage 5: profile state fold over the lake's release dimensions
    val prof = Profiler.profileFromState(
      Profiler.mergeStates(Seq(
        Profiler.incrementState(Seq("lake" -> corpus.select("lang", "text"))),
        Profiler.incrementState(Seq("lake" -> d2.select("lang", "text"))))),
      ProfilerConfig(features = Set("mode")))
    Ingested(dumpRaw, d1, probed, d2, newPairs, folded, kb, lake, kept,
      bmState, prof)
  }

  /** The long-format (section, k, v1, v2) state rollup the oracle
    * recomputes from scratch. */
  private def sections(corpus: DataFrame, s: Ingested): DataFrame = {
    import s._
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("v1"))
        .select(lit("a_ingest").as("section"), lit(name).as("k"),
          col("v1"), lit(0L).as("v2"))
    val ingest = cnt("n_dump_raw", dumpRaw)
      .unionByName(cnt("n_after_exact", d1))
      .unionByName(cnt("n_bloom_hits", probed.filter(col("bloom_hit"))))
      .unionByName(cnt("n_after_bloom", d2))
      .unionByName(cnt("n_new_pairs", newPairs))
      .unionByName(cnt("n_evicted", kb.filter(!col("keep"))))
      .unionByName(cnt("n_evicted_corpus", kb.filter(!col("keep"))
        .join(corpus.select("doc_id"), Seq("doc_id"), "left_semi")))
    val member = lake.select("doc_id")
      .join(kb, Seq("doc_id"), "left_outer")
      .select(lit("b_member").as("section"),
        col("doc_id").cast("string").as("k"),
        coalesce(col("component_id"), col("doc_id")).as("v1"),
        coalesce(col("keep").cast("long"), lit(1L)).as("v2"))
    val bmDf = bmState.dfreq
      .join(bmState.post.groupBy("term").agg(sum("tf").as("__tf")),
        Seq("term"))
      .select(lit("c_bm25_df").as("section"), col("term").as("k"),
        col("__df").as("v1"), col("__tf").as("v2"))
    // "__totals" cannot collide with a term: terms are [a-z0-9] runs
    val bmTot = bmState.sums.select(lit("c_bm25_df").as("section"),
      lit("__totals").as("k"), col("__n").as("v1"), col("__tt").as("v2"))
    val profSec = Seq("row_count", "null_count", "distinct_count",
        "min_len", "max_len").map { m =>
      prof.select(lit("d_profile").as("section"),
        concat(col("column"), lit(":"), lit(m)).as("k"),
        col(m).cast("long").as("v1"), lit(0L).as("v2"))
    }.reduce(_.unionByName(_))
    val manifest = kept.groupBy("lang")
      .agg(count(lit(1)).as("v1"),
        sum(TextAnalysis.tokenCount("text")).as("v2"))
      .select(lit("e_manifest").as("section"), col("lang").as("k"),
        col("v1"), col("v2"))
    ingest.unionByName(member).unionByName(bmDf).unionByName(bmTot)
      .unionByName(profSec).unionByName(manifest)
      .orderBy("section", "k")
  }

  /** DuckDB mirror: every section recomputed FROM SCRATCH over the
    * concatenated corpus — the d1 min-id survivor, the d20 bit-replay
    * probe, the d4/d7 gram/minhash/closure fragments over the lake,
    * the d11 quality argmax, flat token/df counts, the p1 profile
    * stats, and the l4 manifest rollup. */
  val incrementalIngestSql: String = {
    val wsD = OracleSql.asciiWordsSql("text")
    val wsQ = TextQueries.WS
    val h30 = OracleSql.md5BucketSql("g", 1073741824)
    def pos(e: String) =
      OracleSql.md5BucketSql(s"j::VARCHAR || ':' || $e", BloomM)
    val qe4 = s"CAST(${CorpusQueries.qualityE4ExprSql} AS BIGINT)"
    def profCol(c: String): String = {
      val v = s"CAST($c AS VARCHAR)"
      val nn = s"($c IS NOT NULL AND TRIM($v) <> '')"
      s"""SELECT 'd_profile' AS section, '$c:row_count' AS k,
         |  COUNT(*)::BIGINT AS v1, 0::BIGINT AS v2 FROM lake
         |UNION ALL SELECT 'd_profile', '$c:null_count',
         |  CAST(COALESCE(SUM(CASE WHEN NOT $nn THEN 1 ELSE 0 END), 0) AS BIGINT), 0 FROM lake
         |UNION ALL SELECT 'd_profile', '$c:distinct_count',
         |  COUNT(DISTINCT CASE WHEN $nn THEN $v END)::BIGINT, 0 FROM lake
         |UNION ALL SELECT 'd_profile', '$c:min_len',
         |  CAST(COALESCE(MIN(CASE WHEN $nn THEN LENGTH($v) END), 0) AS BIGINT), 0 FROM lake
         |UNION ALL SELECT 'd_profile', '$c:max_len',
         |  CAST(COALESCE(MAX(CASE WHEN $nn THEN LENGTH($v) END), 0) AS BIGINT), 0 FROM lake""".stripMargin
    }
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
       |odd AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
       |dumpraw AS (
       |  SELECT doc_id, lang, text FROM odd
       |  UNION ALL SELECT doc_id + 1000000, lang, text FROM corpus
       |    WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 2000000, lang, text FROM odd
       |    WHERE doc_id % 9 = 0
       |  UNION ALL SELECT doc_id + 3000000, lang, text || '$Revision'
       |    FROM corpus WHERE doc_id % 14 = 0),
       |d1 AS (
       |  SELECT d.doc_id, d.lang, d.text FROM dumpraw d
       |  JOIN (SELECT text, MIN(doc_id) AS keep FROM dumpraw GROUP BY text) w
       |    ON d.text = w.text AND d.doc_id = w.keep),
       |bits AS (
       |  SELECT DISTINCT ${pos("md5(text)")} AS pos
       |  FROM corpus, range(0, $BloomK) t(j)),
       |probe AS (
       |  SELECT doc_id, md5(text) AS h, ${pos("md5(text)")} AS pos
       |  FROM d1, range(0, $BloomK) t(j)),
       |hits AS (
       |  SELECT doc_id, h, COUNT(b.pos) AS nhit
       |  FROM probe p LEFT JOIN bits b USING (pos)
       |  GROUP BY doc_id, h),
       |truth AS (SELECT DISTINCT md5(text) AS h FROM corpus),
       |d2 AS (
       |  SELECT d1.doc_id, d1.lang, d1.text FROM d1
       |  JOIN hits USING (doc_id)
       |  LEFT JOIN truth t ON hits.h = t.h
       |  WHERE NOT (nhit = $BloomK AND t.h IS NOT NULL)),
       |lake AS (
       |  SELECT doc_id, lang, text FROM corpus
       |  UNION ALL SELECT doc_id, lang, text FROM d2),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($wsD) - 1, 1)),
       |    i -> $wsD[i] || ' ' || $wsD[i+1] || ' ' || $wsD[i+2])) AS g
       |  FROM lake WHERE len($wsD) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |hashes AS (SELECT doc_id, $h30 AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", DedupQueries.NumPerms, Band)},
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
       |          >= $Thr),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM mh_pairs
       |          UNION SELECT idb, ida FROM mh_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp
       |  FROM reach GROUP BY src),
       |eq AS (SELECT doc_id, $qe4 AS q FROM lake),
       |kb AS (
       |  SELECT l.doc_id, l.comp,
       |    (ROW_NUMBER() OVER (PARTITION BY comp
       |       ORDER BY q DESC, l.doc_id) = 1) AS keep
       |  FROM labels l JOIN eq USING (doc_id)),
       |kept AS (
       |  SELECT lk.doc_id, lk.lang, lk.text FROM lake lk
       |  LEFT JOIN kb USING (doc_id)
       |  WHERE kb.keep IS NULL OR kb.keep),
       |t AS (SELECT doc_id, $wsD AS ws FROM lake),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS term FROM t)
       |  GROUP BY 1, 2)
       |SELECT 'a_ingest' AS section, 'n_dump_raw' AS k,
       |  COUNT(*)::BIGINT AS v1, 0::BIGINT AS v2 FROM dumpraw
       |UNION ALL SELECT 'a_ingest', 'n_after_exact', COUNT(*)::BIGINT, 0 FROM d1
       |UNION ALL SELECT 'a_ingest', 'n_bloom_hits', COUNT(*)::BIGINT, 0
       |  FROM hits WHERE nhit = $BloomK
       |UNION ALL SELECT 'a_ingest', 'n_after_bloom', COUNT(*)::BIGINT, 0 FROM d2
       |UNION ALL SELECT 'a_ingest', 'n_new_pairs', COUNT(*)::BIGINT, 0
       |  FROM mh_pairs
       |  WHERE ida IN (SELECT doc_id FROM d2) OR idb IN (SELECT doc_id FROM d2)
       |UNION ALL SELECT 'a_ingest', 'n_evicted', COUNT(*)::BIGINT, 0
       |  FROM kb WHERE NOT keep
       |UNION ALL SELECT 'a_ingest', 'n_evicted_corpus', COUNT(*)::BIGINT, 0
       |  FROM kb WHERE NOT keep AND doc_id IN (SELECT doc_id FROM corpus)
       |UNION ALL
       |SELECT 'b_member', CAST(lk.doc_id AS VARCHAR),
       |  COALESCE(kb.comp, lk.doc_id),
       |  CASE WHEN kb.keep IS NULL OR kb.keep THEN 1 ELSE 0 END
       |FROM lake lk LEFT JOIN kb ON lk.doc_id = kb.doc_id
       |UNION ALL
       |SELECT 'c_bm25_df', term, COUNT(*)::BIGINT, SUM(tf)::BIGINT
       |FROM tf GROUP BY term
       |UNION ALL
       |SELECT 'c_bm25_df', '__totals', COUNT(*)::BIGINT,
       |  COALESCE(SUM(len(ws)), 0)::BIGINT FROM t
       |UNION ALL
       |${profCol("lang")}
       |UNION ALL
       |${profCol("text")}
       |UNION ALL
       |SELECT 'e_manifest', lang, COUNT(*)::BIGINT,
       |  SUM(len($wsQ))::BIGINT FROM kept GROUP BY lang
       |ORDER BY section, k""".stripMargin
  }

  // ---- w20: the l8 loop's STREAM twin — the ingest gate ------------------

  /** Quality admission cut for the stream gate (×10⁴ t2 quality). */
  private val W20QCut = 9000L

  /** The between-dumps ingest GATE as one append-mode-legal stage —
    * the l8 data plane deployed on the arriving dump stream, every
    * verdict a pure column or a stream-static join against
    * batch-trained state (no aggregation, no stream-stream join):
    *
    *  - `bloom_hit`: the d20 broadcast-bitmap probe (pure columns);
    *  - `exact_dup`: bloom prefilter AND the exact confirm against the
    *    broadcast corpus content-hash table (a Bloom false positive is
    *    rescued — the gate is exact);
    *  - `n_band_hits`/`near_candidate`: the document's LSH band keys
    *    ([[graft.dedup.Dedup.lshBandArray]] — the per-row native form,
    *    pinned ≡ the aggregated buckets) probed per band against the
    *    broadcast corpus bucket table (the w9/w15 device);
    *  - `quality_ok`: the t2 ×10⁴ quality at [[W20QCut]];
    *  - `admit` = ¬exact_dup ∧ ¬near_candidate ∧ quality_ok.
    *
    * Division of labor (documented, not a gap): WITHIN-dump exact
    * dups pass this gate — first-seen dedup inside the stream is the
    * w3 stateful stage downstream; evicting a STORED doc for a better
    * re-crawl (l8's keep-best) is a retrospective batch decision the
    * next l8 run makes, not an append-mode verdict. StreamingSpec pins
    * the MemoryStream run ≡ this batch twin row for row. */
  private[graft] def streamIngestGate(corpus: DataFrame,
      dump: DataFrame): DataFrame = {
    val bm = BloomDedup.bitmap(
      BloomDedup.setBits(corpus, "text", BloomM, BloomK), BloomM)
    val truth = broadcast(corpus.select(md5(col("text")).as("__h"))
      .distinct().withColumn("__dup", lit(true)))
    // persisted: the STATIC control-plane table (legal under a
    // streaming dump) feeds one broadcast join per band — without the
    // persist each join recomputes the corpus bucket derivation
    val cbuckets = stage(Dedup.inlineLshBuckets(corpus, "text", "doc_id",
      ShingleN, DedupQueries.NumPerms, Band).select("band", "bucket")
      .distinct())
    val nBands = DedupQueries.NumPerms / Band
    val gated0 = dump
      .withColumn("bloom_hit",
        BloomDedup.probeColumn(col("text"), bm, BloomM, BloomK))
      .withColumn("__h", md5(col("text")))
      .join(truth, Seq("__h"), "left_outer")
      .withColumn("exact_dup",
        col("bloom_hit") && coalesce(col("__dup"), lit(false)))
      .withColumn("__bb", Dedup.lshBandArray(col("text"), ShingleN,
        DedupQueries.NumPerms, Band))
    val withHits = (0 until nBands).foldLeft(gated0) { (df, b) =>
      df.withColumn(s"__k$b",
          try_element_at(col("__bb"), lit(b + 1)).getField("bucket"))
        .join(broadcast(cbuckets.filter(col("band") === b)
          .select(col("bucket").as(s"__k$b"), lit(1).as(s"__m$b"))),
          Seq(s"__k$b"), "left_outer")
    }
    val nHits = (0 until nBands)
      .map(b => coalesce(col(s"__m$b"), lit(0))).reduce(_ + _)
    withHits.select(col("doc_id"), col("bloom_hit"), col("exact_dup"),
        nHits.cast("long").as("n_band_hits"),
        (nHits > 0).as("near_candidate"),
        (TextAnalysis.qualityE4("text") >= W20QCut).as("quality_ok"))
      .withColumn("admit",
        !col("exact_dup") && !col("near_candidate") && col("quality_ok"))
  }

  /** Batch twin over the l8 dump construction (the oracle's face). */
  def streamIngestGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Tables.requireIdHeadroom(docs, "doc_id")
    val corpus = stage(docs.filter(col("doc_id") % 2 === 0))
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val dumpRaw = odd
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("text")))
      .unionByName(odd.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          col("text")))
      .unionByName(corpus.filter(col("doc_id") % 14 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(Revision)).as("text")))
    streamIngestGate(corpus, dumpRaw.select("doc_id", "text"))
      .orderBy("doc_id")
  }

  /** Mirror: the d20 bit replay for the Bloom verdict, the exact truth
    * join, the minhash band CTEs on BOTH sides with a per-doc
    * distinct-band hit count, and the shared ×10⁴ quality cut. */
  val streamIngestGateSql: String = {
    val wsD = OracleSql.asciiWordsSql("text")
    def pos(e: String) =
      OracleSql.md5BucketSql(s"j::VARCHAR || ':' || $e", BloomM)
    def bandCtes(src: String) =
      s"""${src}g0 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($wsD) - 1, 1)),
         |    i -> $wsD[i] || ' ' || $wsD[i+1] || ' ' || $wsD[i+2])) AS g
         |  FROM $src WHERE len($wsD) >= 3),
         |${src}grams AS (SELECT DISTINCT doc_id, g FROM ${src}g0),
         |${src}hashes AS (SELECT doc_id,
         |  ${OracleSql.md5BucketSql("g", 1073741824)} AS h
         |  FROM ${src}grams),
         |${src}sigs AS (${OracleSql.minhashSigsSql(s"${src}hashes",
             DedupQueries.NumPerms)}),
         |${src}bands AS (
         |  ${OracleSql.lshBucketsSql(s"${src}sigs", Band)})""".stripMargin
    val qe4 = s"CAST(${CorpusQueries.qualityE4ExprSql} AS BIGINT)"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |dump AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL SELECT doc_id + 1000000, text FROM corpus
       |    WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 2000000, text FROM documents
       |    WHERE doc_id % 2 = 1 AND doc_id % 9 = 0
       |  UNION ALL SELECT doc_id + 3000000, text || '$Revision'
       |    FROM corpus WHERE doc_id % 14 = 0),
       |bits AS (
       |  SELECT DISTINCT ${pos("md5(text)")} AS pos
       |  FROM corpus, range(0, $BloomK) t(j)),
       |probe AS (
       |  SELECT doc_id, md5(text) AS h, ${pos("md5(text)")} AS pos
       |  FROM dump, range(0, $BloomK) t(j)),
       |bhits AS (
       |  SELECT doc_id, h, COUNT(b.pos) AS nhit
       |  FROM probe p LEFT JOIN bits b USING (pos)
       |  GROUP BY doc_id, h),
       |truth AS (SELECT DISTINCT md5(text) AS h FROM corpus),
       |${bandCtes("corpus")},
       |${bandCtes("dump")},
       |cbk AS (SELECT DISTINCT band, bucket FROM corpusbands),
       |nb AS (
       |  SELECT d.id AS doc_id, COUNT(DISTINCT d.band)::BIGINT AS n_band_hits
       |  FROM dumpbands d JOIN cbk c
       |    ON d.band = c.band AND d.bucket = c.bucket
       |  GROUP BY d.id),
       |q AS (SELECT doc_id, $qe4 AS qe4 FROM dump)
       |SELECT d.doc_id,
       |  (bh.nhit = $BloomK) AS bloom_hit,
       |  (bh.nhit = $BloomK AND t.h IS NOT NULL) AS exact_dup,
       |  COALESCE(nb.n_band_hits, 0)::BIGINT AS n_band_hits,
       |  (COALESCE(nb.n_band_hits, 0) > 0) AS near_candidate,
       |  (q.qe4 >= $W20QCut) AS quality_ok,
       |  (NOT (bh.nhit = $BloomK AND t.h IS NOT NULL)
       |    AND COALESCE(nb.n_band_hits, 0) = 0
       |    AND q.qe4 >= $W20QCut) AS admit
       |FROM dump d
       |JOIN bhits bh USING (doc_id)
       |LEFT JOIN truth t ON bh.h = t.h
       |LEFT JOIN nb USING (doc_id)
       |JOIN q USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- l10: deletion propagation ("forget") across the stored states -----

  /** The l8 loop's INVERSE: a delete batch (takedown / right-to-be-
    * forgotten requests arriving between dumps) folded into every
    * maintained state without re-scanning the corpus —
    * [[graft.dedup.Forget]]. Stored state is built over the FULL
    * corpus (near-dup pair set + component map, BM25 postings/df/
    * totals); the delete set is every 17th document (which at the
    * oracle SFs contains dup-group members, group ROOTS — forcing
    * min-id re-election — and keep-best picks). The folds:
    *
    *   1. components: touched groups re-close over the stored pair
    *      set restricted to survivors (blast-radius work; splits and
    *      root takeovers handled by construction); untouched groups
    *      pass through byte-identical (ForgetSpec pins the identity);
    *   2. keep-best re-election over the folded labels (a deleted
    *      best re-elects the next-best member — the d11 policy
    *      surviving deletion);
    *   3. BM25: the negative-batch fold (postings anti-join, df and
    *      totals subtract the deleted docs' own buildState, zero-df
    *      terms leave the dictionary).
    *
    * Output is the l8 long format (section, k, v1, v2); the oracle
    * REBUILDS every section from the remaining corpus, so the hash is
    * the cross-engine "fold ≡ rebuild-without" proof. Scale shape: all
    * per-request work is bounded by the delete batch and its component
    * blast radius; the only corpus-linear state is the Bloom bitmap
    * (bits have no owner count — documented in [[graft.dedup.Forget]],
    * rebuilt per delete BATCH, not per request). */
  def deleteFold(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Tables.requireIdHeadroom(base, "doc_id")
    // Planted component structure so every fold contract BITES (the
    // natural near-dups at the oracle SFs barely intersect a %17
    // delete set): a near-identical COPY of every 10th doc (2-member
    // groups whose root/best the delete set sometimes removes), and a
    // BRIDGE QUINTET for every 34th doc — A = first 400 chars,
    // C = chars 201..600 (J(A,C) ≈ ⅓, below the 0.5 threshold),
    // B = first 600 (J ≈ 0.55–0.9 to each side), plus near-identical
    // twins A' and C' so each side SURVIVES deletion as a 2-member
    // group. The offsets are chosen mod 17 so exactly the BRIDGE
    // lands in the delete set (base %34 = 0 → residue 0; +2·10⁶ ≡ 1,
    // +3·10⁶+9 ≡ 2 = deleted, +4·10⁶+1 ≡ 3, +5·10⁶ ≡ 11, +6·10⁶ ≡ 3).
    // When the 4×4 LSH captures both bridge edges (J ≈ 0.55 sits on
    // the weak part of the s-curve — deterministic per SF, identical
    // on both engines), deleting B SPLITS the group; the split
    // contract itself is pinned UNCONDITIONALLY in ForgetSpec with
    // hand-built edges, independent of LSH capture.
    val lake = stage(base
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" near duplicate crawl copy")).as("text")))
      .unionByName(base.filter(col("doc_id") % 34 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          substring(col("text"), 1, 400).as("text")))
      .unionByName(base.filter(col("doc_id") % 34 === 0)
        .select((col("doc_id") + 3000009L).as("doc_id"), col("lang"),
          substring(col("text"), 1, 600).as("text")))
      .unionByName(base.filter(col("doc_id") % 34 === 0)
        .select((col("doc_id") + 4000001L).as("doc_id"), col("lang"),
          substring(col("text"), 201, 400).as("text")))
      .unionByName(base.filter(col("doc_id") % 34 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("lang"),
          concat(substring(col("text"), 1, 400), lit(" v2")).as("text")))
      .unionByName(base.filter(col("doc_id") % 34 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"), col("lang"),
          concat(substring(col("text"), 201, 400), lit(" v2")).as("text")))
      // coalesced BEFORE the persist (r14): the 7-branch union caches
      // 7 × #scan partitions, and every downstream pass over the lake
      // (shingles, postings, census, scoring) then pays 7× the task
      // scheduling for the same bytes — narrow merge, no shuffle,
      // scale-adaptive (defaultParallelism tracks the session's cores)
      .coalesce(spark.sparkContext.defaultParallelism))
    val docs = lake
    val deletes = stage(docs.filter(col("doc_id") % 17 === 2))
    val remaining = docs.filter(col("doc_id") % 17 =!= 2)
    // stored states, built over the FULL corpus (what the lake holds
    // the moment the delete batch arrives)
    val pairs = stage(Dedup.minhashNearDuplicates(docs, "text", "doc_id",
      shingleSize = ShingleN, numPerms = DedupQueries.NumPerms,
      rowsPerBand = Band, threshold = Thr).select("ida", "idb"))
    // adaptive closure (r13 optimization): the probe's bounded collect
    // doubles as the materialization barrier for the shared persisted
    // pair table (it executes the whole pair machinery into the persist
    // before the fold fans out over it), and below the edge bound the
    // labelling is a driver union-find instead of the star loop's
    // 2-jobs-per-round scheduling floor. Round-12's A/B was "neutral
    // within host noise" on single fresh-JVM samples; warm-rep metering
    // resolves it: 14.8 -> ~11 s at sf0.1, identical labels (the
    // adaptive ≡ distributed pin in ComponentsSpec covers both sides).
    // (no checkpoint: below the bound the labels are a LocalRelation —
    // free to re-read; above it they derive from the star loop's own
    // retained fixpoint checkpoint)
    val stored = Components.adaptiveComponents(pairs, "ida", "idb")
    val bm = graft.text.Bm25
    // postings persisted (r14): the folded state's dfreq (two
    // consumers: n_terms and the df section) and postings surfaces
    // each re-derived the full-lake explode + (doc, term) aggregation
    // — three corpus passes for one state build
    val bmState = bm.buildState(docs, "text", "doc_id",
      Some(stage(bm.postings(docs, "text", "doc_id"))))
    // the folds
    val folded0 = graft.dedup.Forget.bm25(bmState, deletes, "text", "doc_id")
    // term-grain and consumed twice (n_terms count + the df join):
    // persisted so the fold's subtract-join runs once (r14)
    val folded = folded0.copy(dfreq = stage(folded0.dfreq))
    val labels2 = StagePersists.checkpoint(graft.dedup.Forget.components(
      stored, pairs, deletes.select(col("doc_id").as("id"))))
    // persisted (r14): keepBest consumes (labels ⋈ scored) twice, so
    // the ×10⁴ quality census ran over the remaining lake per consumer
    val scored = stage(remaining.select(col("doc_id").as("id"),
      TextAnalysis.qualityE4("text").as("q")))
    val kb = StagePersists.checkpoint(
      Components.keepBest(labels2, scored, "id", "component_id", "q"))
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("v1"))
        .select(lit("a_counts").as("section"), lit(name).as("k"),
          col("v1"), lit(0L).as("v2"))
    val counts = cnt("n_deleted", deletes)
      .unionByName(cnt("n_members", labels2))
      .unionByName(cnt("n_components",
        labels2.select("component_id").distinct()))
      .unionByName(cnt("n_kept", kb.filter(col("keep"))))
      .unionByName(cnt("n_terms", folded.dfreq))
    val member = kb.select(lit("b_member").as("section"),
      col("id").cast("string").as("k"),
      col("component_id").as("v1"),
      col("keep").cast("long").as("v2"))
    val bmDf = folded.dfreq
      .join(folded.post.groupBy("term").agg(sum("tf").as("__tf")),
        Seq("term"))
      .select(lit("c_bm25_df").as("section"), col("term").as("k"),
        col("__df").as("v1"), col("__tf").as("v2"))
    val bmTot = folded.sums.select(lit("c_bm25_df").as("section"),
      lit("__totals").as("k"), col("__n").as("v1"), col("__tt").as("v2"))
    counts.unionByName(member).unionByName(bmDf).unionByName(bmTot)
      .orderBy("section", "k")
  }

  /** Mirror: every section rebuilt from scratch over the REMAINING
    * corpus — the d17 minhash closure at the l8 parameters, the d11
    * keep-best argmax, flat token/df counts. Hash equality is the
    * fold ≡ rebuild proof. */
  val deleteFoldSql: String = {
    val ws = OracleSql.asciiWordsSql("text")
    val h30 = OracleSql.md5BucketSql("g", 1073741824)
    val qe4 = s"CAST(${CorpusQueries.qualityE4ExprSql} AS BIGINT)"
    s"""WITH RECURSIVE lake AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, lang,
       |    text || ' near duplicate crawl copy'
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 2000000, lang, substr(text, 1, 400)
       |  FROM documents WHERE doc_id % 34 = 0
       |  UNION ALL SELECT doc_id + 3000009, lang, substr(text, 1, 600)
       |  FROM documents WHERE doc_id % 34 = 0
       |  UNION ALL SELECT doc_id + 4000001, lang, substr(text, 201, 400)
       |  FROM documents WHERE doc_id % 34 = 0
       |  UNION ALL SELECT doc_id + 5000000, lang,
       |    substr(text, 1, 400) || ' v2'
       |  FROM documents WHERE doc_id % 34 = 0
       |  UNION ALL SELECT doc_id + 6000000, lang,
       |    substr(text, 201, 400) || ' v2'
       |  FROM documents WHERE doc_id % 34 = 0),
       |rem AS (
       |  SELECT doc_id, lang, text FROM lake WHERE doc_id % 17 <> 2),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws) - 1, 1)),
       |    i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS g
       |  FROM rem WHERE len($ws) >= $ShingleN),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |hashes AS (SELECT doc_id, $h30 AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", DedupQueries.NumPerms, Band)},
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
       |          >= $Thr),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM mh_pairs
       |          UNION SELECT idb, ida FROM mh_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp
       |  FROM reach GROUP BY src),
       |eq AS (SELECT doc_id, $qe4 AS q FROM rem),
       |kb AS (
       |  SELECT l.doc_id, l.comp,
       |    (ROW_NUMBER() OVER (PARTITION BY comp
       |       ORDER BY q DESC, l.doc_id) = 1) AS keep
       |  FROM labels l JOIN eq USING (doc_id)),
       |t AS (SELECT doc_id, $ws AS ws FROM rem),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS term FROM t)
       |  GROUP BY 1, 2)
       |SELECT 'a_counts' AS section, 'n_deleted' AS k,
       |  COUNT(*)::BIGINT AS v1, 0::BIGINT AS v2
       |  FROM lake WHERE doc_id % 17 = 2
       |UNION ALL SELECT 'a_counts', 'n_members', COUNT(*)::BIGINT, 0
       |  FROM labels
       |UNION ALL SELECT 'a_counts', 'n_components',
       |  COUNT(DISTINCT comp)::BIGINT, 0 FROM labels
       |UNION ALL SELECT 'a_counts', 'n_kept', COUNT(*)::BIGINT, 0
       |  FROM kb WHERE keep
       |UNION ALL SELECT 'a_counts', 'n_terms',
       |  COUNT(DISTINCT term)::BIGINT, 0 FROM tf
       |UNION ALL
       |SELECT 'b_member', CAST(doc_id AS VARCHAR), comp,
       |  CASE WHEN keep THEN 1 ELSE 0 END
       |FROM kb
       |UNION ALL
       |SELECT 'c_bm25_df', term, COUNT(*)::BIGINT, SUM(tf)::BIGINT
       |FROM tf GROUP BY term
       |UNION ALL
       |SELECT 'c_bm25_df', '__totals', COUNT(*)::BIGINT,
       |  COALESCE(SUM(len(ws)), 0)::BIGINT FROM t
       |ORDER BY section, k""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l10_delete_fold" -> (deleteFold _),
    "w20_stream_ingest_gate" -> (streamIngestGateQuery _),
    "l8_incremental_ingest" -> (incrementalIngest _))

  def oracleSql: Map[String, String] = Map(
    "l10_delete_fold" -> deleteFoldSql,
    "w20_stream_ingest_gate" -> streamIngestGateSql,
    "l8_incremental_ingest" -> incrementalIngestSql)
}
