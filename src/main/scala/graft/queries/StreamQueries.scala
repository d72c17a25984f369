package graft.queries

import graft.Tables
import graft.ops.StagePersists
import graft.streaming.StreamingQuality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-gate query for the streaming module: the SAME windowed
  * aggregation runs here in batch mode (window() is an ordinary
  * grouping expression), so the DuckDB oracle checks the streaming
  * plan's logic end to end. */
object StreamQueries {

  // Hashed-LM gate constants (w13/w14). Declared FIRST: the big
  // streamCorpusPipelineSql val interpolates them, and a Scala object
  // initializes vals in declaration order — a forward reference reads
  // the uninitialized 0 (this bit: the SQL trained "% 0" buckets and a
  // 0 threshold while the Spark side, a def, read the real values).
  private[graft] val LmB2 = 8192
  private[graft] val LmB1 = 2048
  /** w13's DSIR bucket count; it divides LmB2, which lets [[w13Tables]]
    * fold the LM's bigram buckets down to DSIR's. */
  private val DsirB = 4096
  /** w14's cutoff: 9.25 bits/gram (¼-bit steps are exact:
    * 9.25 · 2¹⁰ · 2¹⁶): at the gate SF the en-trained hashed LM
    * averages ~9.18 bits on en documents and ~9.3 on the rest, so this
    * keeps most of the trusted language and rejects most of the others
    * — a working gate, not a degenerate keep-all/none. */
  private val LmThresh = 620756992L
  /** w13's fluency cutoff: 10.75 bits/gram (¼-bit steps exact:
    * 10.75 · 2¹⁰ · 2¹⁶) — the planted w13 corpus is clipped/
    * concatenated text and its en training slice is small, so scores
    * sit ~1.5 bits above w14's raw-document gate; probed at the gate SF
    * (en p90 10.73 vs de/es/fr/zh p50 ≈ 10.9), this keeps
    * ~90% of the trusted language and rejects most of the rest. */
  private val Lm13Thresh = 721420288L
  /** w15's script-aware LSH shingle size (word 5-grams for worded
    * scripts, char 5-grams for CJK — the l7/d16 grain). Declared up
    * top with the LM constants: the w15 mirror val interpolates it. */
  private val W15ShingleN = 5

  def windowedStats(spark: SparkSession, dir: String): DataFrame =
    StreamingQuality.windowedStats(Tables.loadEvents(spark, dir),
        "ts", "event_type", "value", windowLen = "1 hour")
      .withColumn("mean", round(col("mean"), 6))
      .orderBy("window_start", "key")

  /** Tumbling 1-hour windows are epoch-aligned — identical to
    * date_trunc('hour') on UTC timestamps. */
  val windowedStatsSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type AS key, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value), 6) AS mean,
      |  MIN(value) AS min, MAX(value) AS max
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    StreamingQuality.sessionStats(Tables.loadEvents(spark, dir),
        "ts", "user_id", "value", gap = "30 minutes")
      .withColumn("mean", round(col("mean"), 6))
      .orderBy("key", "session_start")

  /** Gaps-and-islands mirror of session_window: a session breaks when
    * the gap to the previous event is >= the window gap (Spark's
    * session interval is half-open [first, last+gap)); session end is
    * last event + gap. */
  val sessionStatsSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id AS key,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value), 6) AS mean
      |FROM s GROUP BY user_id, sid
      |ORDER BY key, session_start""".stripMargin

  /** Batch twin of the streaming first-seen dedup: the deterministic
    * summary (first event per content key) the converged stream
    * produces; the streaming dropDuplicates path is spec-driven. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEvents(spark, dir)
    StreamingQuality.firstSeenSummary(ev, "ts", "event_id",
        StreamingQuality.contentKey(col("user_id"), col("event_type")))
      .orderBy("content_key")
  }

  /** content key mirror: each component length-prefixed, -1 for NULL
    * (StreamingQuality.contentKey's injective encoding). */
  private def encSql(e: String) =
    s"(CAST(COALESCE(LENGTH(CAST($e AS VARCHAR)), -1) AS VARCHAR) || ':' || " +
      s"COALESCE(CAST($e AS VARCHAR), ''))"

  val streamDedupSql: String =
    s"""WITH h AS (
      |  SELECT md5(${encSql("user_id")} || ${encSql("event_type")}) AS content_key,
      |    ts, event_id
      |  FROM events),
      |r AS (
      |  SELECT content_key, ts, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY content_key ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY content_key) AS n_events
      |  FROM h)
      |SELECT content_key, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
      |  event_id AS first_event_id, n_events
      |FROM r WHERE rn = 1 ORDER BY content_key""".stripMargin

  // ---- w4: streaming decontamination (batch twin) ------------------------

  /** Batch twin of the stream-safe contamination evidence: the same
    * stateless operator (per-row distinct shingles → stream-static
    * equi-join against the eval grams) run on the documents table; the
    * streaming spec pins the append-mode run to these exact rows. Eval
    * set and gram size mirror d8 (every 10th doc, 5-grams). */
  def streamDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val evalGrams = graft.dedup.Dedup.wordShingles(
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id", 5)
      .select(col("shingle")).distinct()
    graft.dedup.Decontamination.contaminationEvidence(
        docs, evalGrams, "text", "doc_id", n = 5)
      .orderBy("id", "shingle")
  }

  private val WS5 = OracleSql.asciiWordsSql("text")

  val streamDecontaminationSql: String =
    s"""WITH g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS5) - 3, 1)),
       |    i -> $WS5[i] || ' ' || $WS5[i+1] || ' ' || $WS5[i+2] || ' ' || $WS5[i+3] || ' ' || $WS5[i+4])) AS g
       |  FROM documents WHERE len($WS5) >= 5),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
       |SELECT doc_id AS id, g AS shingle
       |FROM grams JOIN eval_grams USING (g)
       |ORDER BY id, shingle""".stripMargin

  // ---- w5: streaming weighted sampling (batch twin) ----------------------

  /** Batch twin of stream-side weighted sampling: a STATIC per-language
    * probability table (derived deterministically from the language
    * string, so the oracle can rebuild it) broadcast-joined to the
    * corpus, keep iff the 60-bit md5 key clears the threshold —
    * [[graft.text.Sampling.weightedSample]] verbatim, which is
    * stateless and therefore runs unchanged on a stream (the spec runs
    * this exact operator in append mode). */
  def streamWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val probs = docs.select(col("lang")).distinct()
      .withColumn("p",
        (pmod(length(col("lang")).cast("long") * lit(37L), lit(50L)) + lit(25L))
          .cast("double") / lit(100.0))
    graft.text.Sampling.weightedSample(docs, "lang", "doc_id", probs)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  val streamWeightedSampleSql: String =
    s"""WITH probs AS (
      |  SELECT DISTINCT lang,
      |    CAST(FLOOR(LEAST(CAST((LENGTH(lang) * 37) % 50 + 25 AS DOUBLE) / 100.0, 1.0)
      |      * 1152921504606846976.0) AS BIGINT) AS thr
      |  FROM documents)
      |SELECT d.lang, d.doc_id
      |FROM documents d JOIN probs p ON d.lang = p.lang
      |WHERE ${OracleSql.md5LongSql("d.doc_id::VARCHAR")} < p.thr
      |ORDER BY d.lang, d.doc_id""".stripMargin

  // ---- w6: streaming sequence packing ------------------------------------

  /** The STREAMING packer run in batch mode (state starts empty, one
    * group invocation per shard — the identical code path the append-
    * mode stream executes): documents chunked per t7's parameters, then
    * packed into 256-token bins per LANGUAGE shard by the stateful
    * running-offset fold. Hash-oracled against the per-shard prefix-sum
    * mirror, so the driver gate certifies the streaming operator's
    * arithmetic itself; StreamingSpec additionally pins the multi-
    * micro-batch append-mode run to these exact rows. */
  def streamPacked(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val chunks = graft.text.Chunking.tokenChunks(
        docs, "doc_id", "text", window = 32, step = 24)
      .join(docs.select("doc_id", "lang"), "doc_id")
    graft.text.Packing.streamingBinSegments(
        chunks, "lang", "doc_id", "token_start", "n_tokens", seqLen = 256)
      .orderBy("lang", "bin_id", "seq")
  }

  val streamPackedSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, regexp_extract_all(text, '\S+') AS t FROM documents),
      |starts AS (
      |  SELECT doc_id, lang, t, unnest(range(0, len(t), 24)) AS token_start
      |  FROM toks WHERE len(t) > 0),
      |chunks AS (
      |  SELECT doc_id, lang, CAST(token_start AS BIGINT) AS token_start,
      |    CAST(len(t[token_start + 1 : token_start + 32]) AS BIGINT) AS n_tokens
      |  FROM starts),
      |c2 AS (
      |  SELECT doc_id, lang, token_start, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, token_start
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS before
      |  FROM chunks WHERE n_tokens > 0),
      |segs AS (
      |  SELECT lang, doc_id, token_start, n_tokens, before,
      |    unnest(generate_series(
      |      CAST((before - before % 256) / 256 AS BIGINT),
      |      CAST(((before + n_tokens - 1) - (before + n_tokens - 1) % 256) / 256 AS BIGINT)))
      |      AS bin_id
      |  FROM c2)
      |SELECT lang, bin_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin_id
      |    ORDER BY GREATEST(before, bin_id * 256)) AS BIGINT) AS seq,
      |  doc_id,
      |  token_start + GREATEST(before, bin_id * 256) - before AS token_start,
      |  LEAST(before + n_tokens, (bin_id + 1) * 256)
      |    - GREATEST(before, bin_id * 256) AS token_len
      |FROM segs ORDER BY lang, bin_id, seq""".stripMargin

  // ---- w8: windowed drift alarm against trained bands --------------------

  /** Percentile bands trained on the event history (the r6 exact
    * kernel), then the hourly out-of-band rate with an alarm threshold
    * — numeric drift monitoring as the streaming twin of trained-rule
    * detection. The right-skewed synthetic values put every window's
    * baseline near 10%; hours where the heavy tail clusters cross the
    * 12% alarm line. */
  def streamDriftAlarm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEvents(spark, dir)
    val b = graft.rules.TrainedRules.percentileBands(ev, Seq("value"))
      .collect().head
    StreamingQuality.driftAlarm(ev, "ts", "value",
        b.getAs[Double]("p05"), b.getAs[Double]("p95"), alarmRate = 0.12)
      .withColumn("out_rate", round(col("out_rate"), 6))
      .orderBy("window_start")
  }

  val streamDriftAlarmSql: String =
    """WITH b AS (
      |  SELECT quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      |  FROM events),
      |agg AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      |  FROM events, b GROUP BY 1)
      |SELECT window_start, n, n_out,
      |  ROUND(CAST(n_out AS DOUBLE) / CAST(n AS DOUBLE), 6) AS out_rate,
      |  CAST(n_out AS DOUBLE) / CAST(n AS DOUBLE) > 0.12 AS alarm
      |FROM agg ORDER BY window_start""".stripMargin

  // ---- w7: batch-trained rules enforced on the stream --------------------

  /** The generate-on-history, enforce-on-stream loop closed end to end:
    * the r14 source blocklist is trained on the batch corpus
    * (control-plane rules), then applied by the STATELESS streaming
    * violation scanner — run here in batch mode, the identical code
    * path an append-mode stream executes (StreamingSpec pins the
    * multi-micro-batch run to these rows). Output is the Violation
    * layout for exactly the documents of blocked sources. */
  def streamSourceGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val stats = graft.rules.CorpusRules.sourceStats(docs, "source", "text",
      minAvgQuality = 0.91, maxShortFrac = 0.45)
    val rules = graft.rules.CorpusRules.blocklistRules(stats)
    graft.streaming.StreamingQuality.violations(docs, "documents", rules, "doc_id")
      .select("column", "row_id", "value", "rule", "severity")
      .orderBy("row_id", "rule")
  }

  val streamSourceGateSql: String =
    s"""WITH q AS (
       |  SELECT source, CAST(${CorpusQueries.qualityE4ExprSql} AS BIGINT) AS e4,
       |    LENGTH(text) AS len
       |  FROM documents),
       |blocked AS (
       |  SELECT source FROM q GROUP BY source
       |  HAVING CAST(SUM(e4) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 10000.0)
       |           < CAST(0.91 AS DOUBLE)
       |     OR CAST(SUM(CASE WHEN len < 200 THEN 1 ELSE 0 END) AS DOUBLE)
       |          / CAST(COUNT(*) AS DOUBLE) > CAST(0.45 AS DOUBLE))
       |SELECT 'source_block(' || b.source || ')' AS "column",
       |  d.doc_id AS row_id,
       |  '`source` <> ''' || b.source || '''' AS value,
       |  'cross_field(source_block(' || b.source || '))' AS rule,
       |  'error' AS severity
       |FROM documents d JOIN blocked b ON d.source = b.source
       |ORDER BY row_id, rule""".stripMargin

  // ---- w9: streaming near-dedup (LSH first-seen bucket evidence) ---------

  /** The d4 candidate probe as a RUNNING STREAM: per-row LSH buckets
    * (zero exchanges, legal in append mode) feed the stateful
    * first-seen-bucket stage; an emitted row means "this doc collides
    * with an earlier doc's bucket" — the crawl-ingest near-dup gate.
    * Run here in batch mode, where the operator's per-bucket sort makes
    * it exactly the window formulation the oracle replays; the
    * streaming spec pins the multi-micro-batch run to the same rows. */
  def streamNearDupEvidence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    StreamingQuality.firstSeenBucketEvidence(
        graft.dedup.Dedup.inlineLshBuckets(docs, "text", "doc_id",
          shingleSize = 3, numPerms = 16, rowsPerBand = 4))
      .orderBy("id", "band")
  }

  private val WS3 =
    OracleSql.asciiWordsSql("text")

  val streamNearDupEvidenceSql: String = {
    s"""WITH g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS3) - 1, 1)),
       |    i -> $WS3[i] || ' ' || $WS3[i+1] || ' ' || $WS3[i+2])) AS g
       |  FROM documents WHERE len($WS3) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |hashes AS (SELECT doc_id,
       |  ${OracleSql.md5BucketSql("g", 1073741824)} AS h
       |  FROM grams),
       |${OracleSql.lshBandsSql("hashes", 16, 4)},
       |w AS (
       |  SELECT id, band, bucket,
       |    MIN(id) OVER (PARTITION BY band, bucket ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_id
       |  FROM bands)
       |SELECT id, band, bucket, first_id FROM w
       |WHERE first_id IS NOT NULL
       |ORDER BY id, band""".stripMargin
  }

  /** w10: LIVE profile state — the mergeable value histogram
    * ([[graft.profile.Profiler.incrementState]], p11's state)
    * maintained as a streaming aggregation: the long-format explode is
    * stateless and the (table, column, value) count is a standard
    * update-mode stateful agg, so the lake profile stays current on
    * the ingest stream with no batch re-profile (StreamingSpec pins
    * stream ≡ batch). Batch twin here for the oracle. */
  def streamProfileState(spark: SparkSession, dir: String): DataFrame =
    graft.profile.Profiler.incrementState(
        Seq("documents" -> Tables.load(spark, dir, "documents")))
      .orderBy("column", "value")

  val streamProfileStateSql: String = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val lf = cols.map(c =>
      s"""SELECT '$c' AS "column", CAST($c AS VARCHAR) AS value FROM documents""")
      .mkString("\nUNION ALL\n")
    s"""WITH lf AS ($lf)
       |SELECT 'documents' AS "table", "column", value, COUNT(*) AS cnt
       |FROM lf GROUP BY 1, 2, 3 ORDER BY 2, 3""".stripMargin
  }

  // ---- w11: streaming boilerplate-line filter (batch twin) ---------------

  /** Batch twin of the stream-side line filter: a batch pass trains the
    * duplicate-line table (lines occurring ≥ 2 times in the planted
    * corpus — [[graft.dedup.Dedup.knownDupLines]]), and the filter
    * emits (doc, pos, line) evidence for every incoming line found in
    * it ([[graft.dedup.Dedup.lineFilterEvidence]] — a stateless
    * explode + stream-static equi-join, so the spec runs this exact
    * operator in append mode). The d14 line planting. */
  private val W11Nav =
    "repeated boilerplate navigation line planted on every fourth page"

  def streamLineFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.select(col("doc_id"),
      concat(
        substring(col("text"), 1, 60), lit("\n"),
        substring(col("text"), 61, 60), lit("\n"),
        when(col("doc_id") % 4 === 0, lit(W11Nav))
          .otherwise(substring(col("text"), 121, 60))).as("text"))
    val known = graft.dedup.Dedup.knownDupLines(planted, "text")
    graft.dedup.Dedup.lineFilterEvidence(planted, known, "text", "doc_id")
      .select(col("id").as("doc_id"), col("pos"), col("line"))
      .orderBy("doc_id", "pos")
  }

  val streamLineFilterSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    substr(text, 1, 60) || chr(10) || substr(text, 61, 60) || chr(10) ||
       |    CASE WHEN doc_id % 4 = 0
       |      THEN '$W11Nav'
       |      ELSE substr(text, 121, 60) END AS text
       |  FROM documents),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, lines[i] AS line
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines,
       |          unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
       |        FROM planted)),
       |known AS (SELECT line FROM occ GROUP BY line HAVING COUNT(*) >= 2)
       |SELECT doc_id, pos, line
       |FROM occ JOIN known USING (line)
       |ORDER BY doc_id, pos""".stripMargin

  // ---- w13: the crawl→corpus pipeline as ONE running stream --------------

  /** The l2/l3 chain composed as a SINGLE stream — every stage is one
    * of the certified twins (w7 source gate, t22 C4 line filter, the
    * d13-shape LSH corpus probe, t2 quality / t13 repetition / w12
    * DSIR / w14 LM-fluency gates, w5 sampling, w6 stateful packing),
    * wired so the whole chain is legal in ONE append-mode streaming
    * query:
    *
    *  - the control plane (blocklist, corpus buckets, DSIR weights,
    *    hashed-LM counts, sampling thresholds) is batch-trained on the
    *    ingested-corpus
    *    state — broadcast/static tables, the generate-on-history /
    *    enforce-on-stream loop of w7/w8/w11/w12;
    *  - every data-plane stage up to packing is STATELESS per row: the
    *    near-dup probe keeps its 4 band buckets as COLUMNS (
    *    [[graft.dedup.Dedup.lshBandArray]]) and anti-probes the static
    *    corpus-bucket table with four stream-static left-anti joins — an
    *    exploded probe would need an append-illegal re-aggregation;
    *    the repetition gate is the in-row
    *    [[graft.text.TextAnalysis.inlineDupTrigramFrac]];
    *  - sequence packing is the chain's single arbitrary-stateful
    *    operator ([[graft.text.Packing.streamingBinSegments]]), in the
    *    one position Spark permits it (last).
    *
    * One definition serves both modes: the chain is a gate (source
    * gate, C4 clean, band probe, quality/repetition/DSIR/LM gates) and
    * a tail (sample, chunk, pack). The stream runs
    * [[W13Control.chain]] = tail(gate(stream)); the declared query runs
    * the tail over [[W13Control.gated]], the gate already run over the
    * same bounded planted frame to train the thresholds. StreamingSpec
    * feeds the planted corpus through MemoryStream micro-batches and
    * asserts the stream's rows equal the declared query's, the rows
    * the DuckDB oracle certifies. */
  private[graft] def w13Planted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      concat(
        substring(col("text"), 1, 120), lit(".\n"),
        substring(col("text"), 121, 100), lit("\n"),
        lit("too short.\n"),
        substring(col("text"), 221, 100), lit("!"),
        when(col("doc_id") % 6 === 0,
          lit("\nthis page is lorem ipsum filler text only."))
          .otherwise(lit(""))).as("text"))

  private def w13BlockedFrame(planted: DataFrame): DataFrame =
    graft.rules.CorpusRules.sourceStats(planted, "source", "text",
        minAvgQuality = 0.895, maxShortFrac = 0.45)
      .filter(col("blocked")).select("source")

  private def w13CleanedFrame(planted: DataFrame,
      blocked: DataFrame): DataFrame =
    graft.text.Cleaning.c4Clean(
        planted.join(broadcast(blocked), Seq("source"), "left_anti"),
        "text", "doc_id", keep = Seq("lang"))
      .filter(col("kept"))
      .select(col("id").as("doc_id"), col("lang"),
        col("clean_text").as("text"))

  private def w13RefBucketsFrame(cleaned: DataFrame): DataFrame =
    graft.dedup.Dedup.inlineLshBuckets(
        cleaned.filter(col("doc_id") % 3 === 0), "text", "doc_id",
        shingleSize = 3, numPerms = 16, rowsPerBand = 4)
      .select("band", "bucket").distinct()

  /** w13's trained DSIR weights and hashed-LM arrays from ONE gram
    * pass over the cleaned corpus. Every bigram occurrence is hashed
    * once (an `en` one's first word once more) and counted, by one
    * aggregation and one collect, into one dense offset space:
    *
    *   [0, LmB2)              non-`en` bigrams, pmod(md5Long(g), LmB2)
    *   [LmB2, 2·LmB2)         `en` bigrams, the same bucket
    *   [2·LmB2, 2·LmB2+LmB1)  `en` first words, pmod(md5Long(w₁), LmB1)
    *
    * The driver folds the bigram buckets to DSIR's (md5Long ≥ 0 and
    * DsirB divides LmB2, so pmod(h, LmB2) % DsirB = pmod(h, DsirB)):
    * raw counts are all bigrams, target counts the `en` ones. The
    * result equals [[graft.text.Importance.hashedWeights]] (raw =
    * cleaned, target = its `en` rows) + `denseWeights`, and
    * [[graft.text.LanguageModel.hashedCounts]] (`en` rows) +
    * `denseCounts`, guards included (W13TablesSpec pins both). */
  private[graft] def w13Tables(cleaned: DataFrame)
      : (Seq[Long], (Seq[Long], Seq[Long])) = {
    val g = col("g")
    val b2 = pmod(graft.dedup.Dedup.md5Long(g), lit(LmB2.toLong))
    val b1 = pmod(graft.dedup.Dedup.md5Long(substring_index(g, " ", 1)),
      lit(LmB1.toLong))
    val counts = new Array[Long](2 * LmB2 + LmB1)
    cleaned
      .select(coalesce(col("lang") === "en", lit(false)).as("__en"),
        explode(graft.text.Importance.gramArray(col("text"), 2)).as("g"))
      .select(explode(when(col("__en"), array(b2 + LmB2, b1 + 2 * LmB2))
        .otherwise(array(b2))).as("k"))
      .groupBy("k").agg(count(lit(1)))
      .collect().foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
    val enB2 = counts.slice(LmB2, 2 * LmB2).toSeq
    val raw = new Array[Long](DsirB)
    val tgt = new Array[Long](DsirB)
    (0 until LmB2).foreach { b =>
      raw(b % DsirB) += counts(b) + enB2(b)
      tgt(b % DsirB) += enB2(b)
    }
    (graft.text.Importance.weightsOf(raw.toSeq, tgt.toSeq),
      graft.text.LanguageModel.checkedDense(enB2,
        counts.slice(2 * LmB2, 2 * LmB2 + LmB1).toSeq, LmB2))
  }

  /** √(n_min/n) sampling probabilities per `keyCol` value of the gate
    * survivors — the temperature-rebalance rule the w13 and w15 twins
    * train. The counts are a handful of rows: one collect, then the
    * probabilities on the driver (Spark's sqrt is Math.sqrt, so they
    * are bit-identical) as a local frame. No survivors, no probs. */
  private[graft] def samplingProbs(gated: DataFrame, keyCol: String): DataFrame = {
    val counts = gated.groupBy(keyCol).agg(count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val nMin = counts.map(_._2).minOption.getOrElse(0L)
    val spark = gated.sparkSession
    import spark.implicits._
    counts.map { case (k, n) => (k, math.sqrt(nMin.toDouble / n.toDouble)) }
      .toDF(keyCol, "p")
  }

  /** Rows whose LSH bands (`bandsCol`, [[graft.dedup.Dedup.lshBandArray]]
    * form, element k+1 = band k) hit no (band, bucket) of the static
    * corpus table: one left-anti join per band, all four against ONE
    * broadcast keyed `band:bucket` (an identical build side, so
    * exchange reuse plans it once). `refBuckets` is distinct on (band,
    * bucket), so this is the per-band left-outer probe with every match
    * column null. try_element_at: the band array is EMPTY for docs
    * under the shingle size, and a plain element_at throws under ANSI;
    * the null key never equi-matches, so empty-band docs pass the probe
    * — the no-bands-no-collision semantics of the aggregated path.
    * Stream-static left-anti joins are append-legal. */
  private def bandAntiProbe(df: DataFrame, bandsCol: String,
      refBuckets: DataFrame): DataFrame = {
    val ref = broadcast(refBuckets.select(
      concat(col("band").cast("string"), lit(":"), col("bucket")).as("__rk")))
    (0 until 4).foldLeft(df) { (acc, k) =>
      acc.join(ref, concat(lit(s"$k:"),
          try_element_at(col(bandsCol), lit(k + 1)).getField("bucket")) ===
          col("__rk"), "left_anti")
    }
  }

  /** w13's batch-trained control plane: the blocked sources, the
    * corpus LSH buckets, the dense DSIR weights and LM arrays, the
    * per-language sampling thresholds, and the gated frame they were
    * trained on. The corpus state is the cleaned prior dump
    * (doc_id % 3 == 0); the thresholds are trained on the gate
    * survivors of the same planted frame, history standing in for the
    * stream. */
  private[graft] case class W13Control(blocked: DataFrame,
      refBuckets: DataFrame, dense: Seq[Long], lm: (Seq[Long], Seq[Long]),
      probs: DataFrame, gated: DataFrame) {
    /** The chain over a (possibly streaming) planted frame. */
    def chain(planted: DataFrame): DataFrame =
      w13Tail(w13Gated(w13CleanedFrame(planted, blocked), refBuckets, dense,
        lm), probs)
  }

  private[graft] def w13Control(spark: SparkSession, dir: String): W13Control = {
    val planted = w13Planted(Tables.load(spark, dir, "documents"))
    // `blocked` stays lazy: its one batch consumer is the broadcast
    // anti-join inside the cleaned checkpoint's job. The corpus buckets
    // and the one-pass DSIR/LM tables both read the cleaned base and
    // overlap on driver threads.
    val blocked = w13BlockedFrame(planted)
    val cleaned = StagePersists.checkpoint(w13CleanedFrame(planted, blocked))
    val (refBuckets, (dense, lm)) = graft.ops.Overlap.par2(
      () => StagePersists.checkpoint(w13RefBucketsFrame(cleaned)),
      () => w13Tables(cleaned))
    val gated = StagePersists.track(w13Gated(cleaned, refBuckets, dense, lm))
    W13Control(blocked, refBuckets, dense, lm, samplingProbs(gated, "lang"),
      gated)
  }

  /** The stateless mid-chain (probe + gates) over already-cleaned
    * rows — shared by control-plane training and the live chain. */
  private def w13Gated(cleaned: DataFrame, refBuckets: DataFrame,
      dense: Seq[Long], lm: (Seq[Long], Seq[Long])): DataFrame = {
    val survivors = bandAntiProbe(cleaned.withColumn("__bb",
        graft.dedup.Dedup.lshBandArray(col("text"),
          shingleSize = 3, numPerms = 16, rowsPerBand = 4)),
        "__bb", refBuckets)
      .select(col("doc_id"), col("lang"), col("text"))
    val (_, score) = graft.text.Importance.scoreColumns(
      dense, "text", n = 2, buckets = DsirB)
    // fluency gate: per-row native LM scoring (w14's kernel), threshold
    // cross-multiplied so the comparison stays integer
    val (lmN, lmNll) = graft.text.LanguageModel.nllColumns(
      lm._1, lm._2, LmB2, LmB1, "text")
    // the LM conjunct is the EXPLICIT unscorable policy (the w15/t29
    // contract): a document with zero [a-z0-9] bigrams cannot be
    // SCORED, which is not evidence it is bad — `lmN > 0 && pass` was
    // silently a language filter (it deleted every pure-CJK/Cyrillic
    // document with no trace). Zero-gram docs are KEPT here (the
    // upstream C4 line gate already guarantees substantial text); a
    // mixed-script deployment routes them to their script's model
    // instead (w15). Cross-multiplied, so n = 0 never divides.
    survivors.filter(
      TextQueries.round4(graft.text.TextAnalysis.qualityScore("text")) >= 0.9 &&
        TextQueries.round4(
          graft.text.TextAnalysis.inlineDupTrigramFrac("text")) < 0.3 &&
        score >= 0L &&
        (lmN === 0L || lmNll * 1024L <= lmN * lit(Lm13Thresh)))
  }


  /** The chain's tail over gated rows: threshold sampling, chunking,
    * and the stateful packer (last, the one position Spark permits
    * it). */
  private def w13Tail(gated: DataFrame, probs: DataFrame): DataFrame = {
    val sampled = graft.text.Sampling.weightedSample(gated, "lang", "doc_id",
      probs)
    val chunks = graft.text.Chunking.tokenChunks(sampled, "doc_id", "text",
      window = 32, step = 24, keep = Seq("lang"))
    graft.text.Packing.streamingBinSegments(chunks, "lang", "doc_id",
      "token_start", "n_tokens", seqLen = 256)
  }

  def streamCorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val c = w13Control(spark, dir)
    w13Tail(c.gated, c.probs).orderBy("lang", "bin_id", "seq")
  }

  val streamCorpusPipelineSql: String = {
    val wsq = OracleSql.wordsSql("text")
    val ws3 = OracleSql.asciiWordsSql("text")
    val w4l = OracleSql.asciiWordsSql("l")
    val qual = TextQueries.rawQualitySql
    val e4 = s"CAST(FLOOR($qual * 10000 + 0.5) AS BIGINT)"
    val bkt = OracleSql.md5BucketSql("g", 4096)
    // the LM gate's bucket hashes and fixed-point log2 ladders (the w14
    // mirror, trained on the cleaned corpus's en subset)
    val lmPs = graft.text.LanguageModel.PScale
    s"""WITH planted AS (
       |  SELECT doc_id, lang, source,
       |    substr(text, 1, 120) || '.' || chr(10) ||
       |    substr(text, 121, 100) || chr(10) ||
       |    'too short.' || chr(10) ||
       |    substr(text, 221, 100) || '!' ||
       |    CASE WHEN doc_id % 6 = 0
       |      THEN chr(10) || 'this page is lorem ipsum filler text only.'
       |      ELSE '' END AS text
       |  FROM documents),
       |q0 AS (SELECT source, $e4 AS e4, LENGTH(text) AS len FROM planted),
       |blocked AS (
       |  SELECT source FROM q0 GROUP BY source
       |  HAVING CAST(SUM(e4) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 10000.0)
       |           < CAST(0.895 AS DOUBLE)
       |     OR CAST(SUM(CASE WHEN len < 200 THEN 1 ELSE 0 END) AS DOUBLE)
       |          / CAST(COUNT(*) AS DOUBLE) > CAST(0.45 AS DOUBLE)),
       |gated AS (
       |  SELECT doc_id, lang, text FROM planted
       |  WHERE source NOT IN (SELECT source FROM blocked)),
       |lk AS (SELECT doc_id, lang, text, string_split(text, chr(10)) AS lines
       |       FROM gated),
       |lk2 AS (SELECT doc_id, lang, text,
       |          list_filter(lines, l -> len($w4l) >= 5
       |            AND right(l, 1) IN ('.', '!', '?', '"')) AS keptl
       |        FROM lk),
       |clean AS (
       |  SELECT doc_id, lang, array_to_string(keptl, chr(10)) AS text
       |  FROM lk2
       |  WHERE NOT lower(text) LIKE '%lorem ipsum%'
       |    AND NOT text LIKE '%{%' AND NOT text LIKE '%}%'
       |    AND len(keptl) >= 2),
       |cg0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($ws3) - 1, 1)),
       |    i -> $ws3[i] || ' ' || $ws3[i+1] || ' ' || $ws3[i+2])) AS g
       |  FROM clean WHERE len($ws3) >= 3),
       |cgrams AS (SELECT DISTINCT doc_id, g FROM cg0),
       |chashes AS (SELECT doc_id,
       |  ${OracleSql.md5BucketSql("g", 1073741824)} AS h
       |  FROM cgrams),
       |${OracleSql.lshBandsSql("chashes", 16, 4)},
       |refb AS (
       |  SELECT DISTINCT band, bucket FROM bands WHERE id % 3 = 0),
       |collide AS (
       |  SELECT DISTINCT b.id FROM bands b JOIN refb r USING (band, bucket)),
       |survivors AS (
       |  SELECT doc_id, lang, text FROM clean
       |  WHERE doc_id NOT IN (SELECT id FROM collide)),
       |rg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len($ws3)),
       |      i -> $ws3[i] || ' ' || $ws3[i + 1])) AS g
       |  FROM clean WHERE len($ws3) >= 2),
       |cr AS (SELECT $bkt AS b, COUNT(*) AS nr FROM rg GROUP BY 1),
       |ct AS (SELECT $bkt AS b, COUNT(*) AS nt
       |       FROM rg JOIN clean USING (doc_id) WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM rg) AS nr_tot,
       |               (SELECT COUNT(*) FROM rg
       |                JOIN clean USING (doc_id) WHERE lang = 'en') AS nt_tot),
       |wt AS (SELECT b,
       |        CAST(coalesce(nt, 0) * nr_tot - coalesce(nr, 0) * nt_tot
       |          AS BIGINT) AS w
       |      FROM cr FULL JOIN ct USING (b), tot),
       |dscore AS (
       |  SELECT s.doc_id, CAST(SUM(coalesce(w, 0)) AS BIGINT) AS score
       |  FROM (SELECT doc_id, $bkt AS b
       |        FROM (SELECT doc_id,
       |                unnest(list_transform(range(1, len($ws3)),
       |                  i -> $ws3[i] || ' ' || $ws3[i + 1])) AS g
       |              FROM survivors WHERE len($ws3) >= 2)) s
       |  LEFT JOIN wt USING (b) GROUP BY s.doc_id),
       |rep AS (
       |  SELECT doc_id,
       |    CASE WHEN len(g3) > 0 THEN
       |      CAST(len(g3) - len(list_filter(g3, (x, i) ->
       |        (i = 1 OR g3[i-1] <> x) AND (i = len(g3) OR g3[i+1] <> x)))
       |        AS DOUBLE) / CAST(len(g3) AS DOUBLE)
       |    ELSE 0.0 END AS frac
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN len($wsq) >= 3 THEN
       |        list_sort(list_transform(range(1, len($wsq) - 1),
       |          i -> $wsq[i] || ' ' || $wsq[i+1] || ' ' || $wsq[i+2]))
       |      ELSE [] END AS g3
       |    FROM survivors)),
       |lmcr AS (SELECT ${OracleSql.md5BucketSql("g", LmB2)} AS b2k, COUNT(*) AS c2
       |         FROM rg JOIN clean USING (doc_id) WHERE lang = 'en' GROUP BY 1),
       |lmc1 AS (SELECT ${OracleSql.md5BucketSql("split_part(g, ' ', 1)", LmB1)} AS b1k, COUNT(*) AS c1
       |         FROM rg JOIN clean USING (doc_id) WHERE lang = 'en' GROUP BY 1),
       |lmq AS (
       |  SELECT doc_id, LEAST(GREATEST(
       |    ((coalesce(c2, 0) + 1) * $lmPs) // (coalesce(c1, 0) + $LmB2),
       |    1), $lmPs) AS q
       |  FROM (SELECT doc_id, ${OracleSql.md5BucketSql("g", LmB2)} AS b2k,
       |          ${OracleSql.md5BucketSql("split_part(g, ' ', 1)", LmB1)} AS b1k
       |        FROM (SELECT doc_id,
       |                unnest(list_transform(range(1, len($ws3)),
       |                  i -> $ws3[i] || ' ' || $ws3[i + 1])) AS g
       |              FROM survivors WHERE len($ws3) >= 2))
       |  LEFT JOIN lmcr USING (b2k) LEFT JOIN lmc1 USING (b1k)),
       |lmnll AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS lm_n,
       |    SUM(${OracleSql.nllFpSql("q")})::BIGINT AS lm_nll
       |  FROM lmq GROUP BY doc_id),
       |kept AS (
       |  SELECT s.doc_id, s.lang, s.text
       |  FROM survivors s
       |  JOIN rep USING (doc_id)
       |  LEFT JOIN dscore USING (doc_id)
       |  LEFT JOIN lmnll USING (doc_id)
       |  WHERE FLOOR($qual * 10000 + 0.5) / 10000.0 >= 0.9
       |    AND FLOOR(rep.frac * 10000 + 0.5) / 10000.0 < 0.3
       |    AND coalesce(dscore.score, 0) >= 0
       |    AND (coalesce(lm_n, 0) = 0
       |         OR coalesce(lm_nll, 0) * 1024 <= $Lm13Thresh * coalesce(lm_n, 0))),
       |counts AS (SELECT lang, COUNT(*) AS n FROM kept GROUP BY lang),
       |mn AS (SELECT MIN(n) AS n_min FROM counts),
       |probs AS (
       |  SELECT lang,
       |    CAST(FLOOR(LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 1.0)
       |      * 1152921504606846976.0) AS BIGINT) AS thr
       |  FROM counts, mn),
       |sampled AS (
       |  SELECT k.doc_id, k.lang, k.text FROM kept k JOIN probs p ON k.lang = p.lang
       |  WHERE ${OracleSql.md5LongSql("k.doc_id::VARCHAR")} < p.thr),
       |toks AS (
       |  SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS t FROM sampled),
       |starts AS (
       |  SELECT doc_id, lang, t, unnest(range(0, len(t), 24)) AS token_start
       |  FROM toks WHERE len(t) > 0),
       |chunks AS (
       |  SELECT doc_id, lang, CAST(token_start AS BIGINT) AS token_start,
       |    CAST(len(t[token_start + 1 : token_start + 32]) AS BIGINT) AS n_tokens
       |  FROM starts),
       |c2 AS (
       |  SELECT doc_id, lang, token_start, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, token_start
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS before
       |  FROM chunks WHERE n_tokens > 0),
       |segs AS (
       |  SELECT lang, doc_id, token_start, n_tokens, before,
       |    unnest(generate_series(
       |      CAST((before - before % 256) / 256 AS BIGINT),
       |      CAST(((before + n_tokens - 1) - (before + n_tokens - 1) % 256) / 256 AS BIGINT)))
       |      AS bin_id
       |  FROM c2)
       |SELECT lang, bin_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin_id
       |    ORDER BY GREATEST(before, bin_id * 256)) AS BIGINT) AS seq,
       |  doc_id,
       |  token_start + GREATEST(before, bin_id * 256) - before AS token_start,
       |  LEAST(before + n_tokens, (bin_id + 1) * 256)
       |    - GREATEST(before, bin_id * 256) AS token_len
       |FROM segs ORDER BY lang, bin_id, seq""".stripMargin
  }

  // ---- w15: the MULTILINGUAL crawl→corpus pipeline as ONE stream ---------

  /** The l7 multilingual chain in STREAM form — every stage the
    * script-aware twin of a w13 stage, wired so the whole chain is
    * legal in ONE append-mode streaming query:
    *
    *  - control plane batch-trained on the prior corpus state (the
    *    generate-on-history / enforce-on-stream loop): corpus content
    *    hashes, script-aware LSH corpus buckets, per-script hashed LM
    *    dense arrays + percentile cut literals, per-script sampling
    *    thresholds;
    *  - data plane stateless per row until packing: exact-dup probe is
    *    a stream-static anti-join on the content hash (the d13
    *    batch-vs-corpus form at exact grain), near-dup probe keeps its
    *    4 band buckets as COLUMNS over SCRIPT-AWARE tokens
    *    ([[graft.functions.LshBands]] ∘ [[graft.text.ScriptText.tokens]];
    *    CJK documents carry char-5-gram bands) with `try_element_at`
    *    band joins, the quality gate is the per-script
    *    [[graft.text.ScriptText.qualityE4]] cut, and the LM gate is
    *    [[graft.text.ScriptLm.withScores]]' per-row kernel against cut
    *    LITERALS with the EXPLICIT unscorable policy —
    *    `lm_scorable = false` documents are KEPT, never the silent
    *    language filter w13's `n_grams > 0` conjunct is;
    *  - per-script threshold sampling, script-grain chunking, and the
    *    per-shard stateful packer (shard = script) last.
    *
    * As for w13, the stream runs [[W15Control.chain]] = tail(gate(
    * stream)) and the declared query runs the tail over
    * [[W15Control.gated]]; StreamingSpec asserts the MemoryStream rows
    * equal the declared query's, the rows the DuckDB oracle
    * certifies. */
  private[graft] def w15Base(docs: DataFrame): DataFrame =
    TextQueries.Scripts.derived(docs)
      .select(col("doc_id"),
        // every 41st document translated into an UNTRACKED letter
        // script (Devanagari): full quality, script vote 'none' — the
        // population that must survive the quality gate to prove the
        // LM gate's unscorable-kept policy end to end (a letterless
        // digit filler dies at the quality cut first)
        when(col("doc_id") % 41 === 0,
          TextQueries.Scripts.toUntracked(col("text2")))
          .otherwise(col("text2")).as("text2"))

  /** The planted multilingual crawl: the t26 derivation with
    * per-doc-unique letterless filler on every 41st id (the unscorable
    * population) plus an 80%-prefix near-dup copy of every 7k+3rd
    * document at id+10⁶ — ids ≡ 3 (mod 21) have their base in the
    * corpus, so the band probe provably bites in every script.
    *
    * `base` must be a MATERIALIZED frame (the [[w15Base]] output
    * behind a checkpoint): the gate filters are deterministic, so
    * Catalyst pushes them below the planted projections and
    * SUBSTITUTES the whole derivation CASE into every
    * script_stats/script_tokens reference — the fused gate stage's
    * generated code reached ~62k lines and blew the 64 KB JVM method
    * limit (whole-stage codegen fell back to interpreted, ~5× slower).
    * The barrier makes text2 a leaf attribute. The STREAM never has
    * the problem: its rows arrive already planted. */
  private[graft] def w15PlantedFrom(base: DataFrame): DataFrame =
    base.unionByName(base.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        substring(col("text2"), lit(1),
          floor(length(col("text2")) * 0.8).cast("int")).as("text2")))

  private[graft] def w15Planted(docs: DataFrame): DataFrame =
    w15PlantedFrom(StagePersists.checkpoint(w15Base(docs)))

  private def w15HashesFrame(corpus: DataFrame): DataFrame =
    corpus.select(md5(col("text2")).as("__h")).distinct()

  private def w15RefBucketsFrame(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(graft.functions.LshBands(
        graft.text.ScriptText.tokens(col("text2")),
        W15ShingleN, 16, 4)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .distinct()

  /** w15's batch-trained control plane: the corpus content hashes, the
    * script LSH corpus buckets, the per-script dense LM arrays and cut
    * literals, the per-script sampling thresholds, and the gated frame
    * they were trained on. The corpus state is the prior dump
    * (doc_id % 3 == 0); the thresholds are trained on the gate
    * survivors of the same planted frame, history standing in for the
    * stream. */
  private[graft] case class W15Control(hashes: DataFrame,
      refBuckets: DataFrame, lm: (Seq[Long], Seq[Long]),
      cuts: Seq[(String, Long)], probs: DataFrame, gated: DataFrame) {
    /** The chain over a (possibly streaming) planted frame. */
    def chain(planted: DataFrame): DataFrame =
      w15Tail(w15Gated(planted, hashes, refBuckets, lm, cuts), probs)
  }

  private[graft] def w15Control(spark: SparkSession, dir: String): W15Control = {
    import graft.text.{ScriptLm, ScriptText}
    import TextQueries.{SLmB1, SLmB2}
    // materialized once: a pushdown barrier (see w15PlantedFrom) AND
    // the shared input of every control table below
    val base = StagePersists.checkpoint(w15Base(Tables.load(spark, dir,
      "documents")))
    val corpus = base.filter(col("doc_id") % 3 === 0)
    // `hashes` stays lazy (one broadcast consumer: its distinct builds
    // inside the gated job); the corpus buckets and the dense LM
    // arrays overlap on driver threads
    val hashes = w15HashesFrame(corpus)
    val (c2, c1) = ScriptLm.hashedCounts(corpus, "text2", SLmB2, SLmB1)
    val (refBuckets, lm) = graft.ops.Overlap.par2(
      () => StagePersists.checkpoint(w15RefBucketsFrame(corpus)),
      () => ScriptLm.denseCounts(c2, c1, SLmB2, SLmB1))
    val cuts = ScriptLm.percentileCuts(ScriptLm.withScores(corpus, lm,
        SLmB2, SLmB1, "text2", ScriptText.dominantScript(col("text2"))),
      TextQueries.SLmKeepNum, TextQueries.SLmKeepDen)
    val gated = StagePersists.track(
      w15Gated(w15PlantedFrom(base), hashes, refBuckets, lm, cuts))
    W15Control(hashes, refBuckets, lm, cuts, samplingProbs(gated, "script"),
      gated)
  }

  /** The stateless gate chain (probes + per-script gates) — shared by
    * control-plane training and the live stream. */
  private def w15Gated(planted: DataFrame, hashes: DataFrame,
      refBuckets: DataFrame, lm: (Seq[Long], Seq[Long]),
      cuts: Seq[(String, Long)]): DataFrame = {
    import graft.text.{ScriptLm, ScriptText}
    val fresh = planted.withColumn("__h", md5(col("text2")))
      .join(broadcast(hashes), Seq("__h"), "left_anti")
      .drop("__h")
    val survivors = bandAntiProbe(fresh.withColumn("__bb",
        graft.functions.LshBands(ScriptText.tokens(col("text2")),
          W15ShingleN, 16, 4)),
        "__bb", refBuckets)
      .select(col("doc_id"), col("text2"))
    val scripted = survivors
      .withColumn("script", ScriptText.dominantScript(col("text2")))
      .filter(ScriptText.qualityE4("text2") >=
        when(col("script") === "cjk", CorpusQueries.L7QCjk)
          .otherwise(CorpusQueries.L7QOther))
    ScriptLm.withScores(scripted, lm, TextQueries.SLmB2, TextQueries.SLmB1,
        "text2", col("script"))
      .filter(ScriptLm.gateKept(col("script"), col("n_grams"),
        col("nll_fp"), cuts))
      .select("doc_id", "script", "text2")
  }

  /** The chain's tail over gated rows: per-script threshold sampling,
    * script-grain chunking, and the per-shard stateful packer. */
  private def w15Tail(gated: DataFrame, probs: DataFrame): DataFrame = {
    val sampled = graft.text.Sampling.weightedSample(gated, "script",
      "doc_id", probs)
    val chunks = graft.text.Chunking.tokenChunks(sampled, "doc_id", "text2",
      window = 32, step = 24, keep = Seq("script"),
      tokenizer = graft.text.ScriptText.tokens)
    graft.text.Packing.streamingBinSegments(chunks, "script", "doc_id",
      "token_start", "n_tokens", seqLen = 512)
  }

  def streamMultilingual(spark: SparkSession, dir: String): DataFrame = {
    val c = w15Control(spark, dir)
    w15Tail(c.gated, c.probs).orderBy("script", "bin_id", "seq")
  }

  /** Mirror of [[streamMultilingual]]: derivation + filler + planted
    * copies, the corpus hash anti-probe, TWO script-LSH band chains
    * (corpus refs, stream probes — the w13 minhash fragments over
    * script tokens), per-script quality, the t29 per-script LM CTEs
    * trained on the corpus and cut at its percentiles, per-script
    * threshold sampling, and the per-shard pack tail at the script
    * token grain. */
  val streamMultilingualSql: String = {
    import TextQueries.Scripts
    def toks(e: String) = Scripts.toksSql(e)
    val sn = W15ShingleN
    def gramsCte(src: String, pre: String) =
      s"""${pre}g0 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(ws) - ${sn - 2}, 1)),
         |    i -> list_aggregate(ws[i:i+${sn - 1}], 'string_agg', ' '))) AS g
         |  FROM $src WHERE len(ws) >= $sn),
         |${pre}grams AS (SELECT DISTINCT doc_id, g FROM ${pre}g0),
         |${pre}h AS (SELECT doc_id,
         |  ${OracleSql.md5BucketSql("g", 1073741824)} AS h
         |  FROM ${pre}grams),
         |${pre}sig AS (${OracleSql.minhashSigsSql(s"${pre}h", 16)}),
         |${pre}bands AS (
         |  ${OracleSql.lshBucketsSql(s"${pre}sig", 4)})""".stripMargin
    val b2 = TextQueries.SLmB2
    val b1 = TextQueries.SLmB1
    def bigramCte(srcToks: String, name: String, scriptSrc: String) =
      s"""$name AS (
         |  SELECT t.doc_id, c.script, g, split_part(g, ' ', 1) AS w1
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len(ws)),
         |            i -> ws[i] || ' ' || ws[i + 1])) AS g
         |        FROM $srcToks WHERE len(ws) >= 2) t
         |  JOIN $scriptSrc c ON t.doc_id = c.doc_id)""".stripMargin
    s"""WITH ${Scripts.derivedSql},
       |base AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 41 = 0
       |         THEN ${TextQueries.Scripts.toUntrackedSql("text2")}
       |         ELSE text2 END AS text2
       |  FROM docs2),
       |planted AS (
       |  SELECT doc_id, text2 FROM base
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    substr(text2, 1, CAST(FLOOR(length(text2) * 0.8) AS INT))
       |  FROM base WHERE doc_id % 7 = 3),
       |corpus AS (SELECT doc_id, text2 FROM base WHERE doc_id % 3 = 0),
       |chash AS (SELECT DISTINCT md5(text2) AS hh FROM corpus),
       |fresh AS (
       |  SELECT doc_id, text2 FROM planted
       |  WHERE md5(text2) NOT IN (SELECT hh FROM chash)),
       |ctoks AS (SELECT doc_id, ${toks("text2")} AS ws FROM corpus),
       |${gramsCte("ctoks", "c")},
       |refb AS (SELECT DISTINCT band, bucket FROM cbands),
       |ftoks AS (SELECT doc_id, ${toks("text2")} AS ws FROM fresh),
       |${gramsCte("ftoks", "f")},
       |collide AS (
       |  SELECT DISTINCT b.id AS doc_id
       |  FROM fbands b JOIN refb r USING (band, bucket)),
       |surv AS (
       |  SELECT doc_id, text2 FROM fresh
       |  WHERE doc_id NOT IN (SELECT doc_id FROM collide)),
       |${Scripts.scriptCteSql("surv", "text2")},
       |sq AS (SELECT doc_id, ${Scripts.qualityE4Sql("text2")} AS qe4 FROM surv),
       |qual AS (
       |  SELECT s.doc_id, s.text2, c.script
       |  FROM surv s JOIN scr c USING (doc_id) JOIN sq USING (doc_id)
       |  WHERE sq.qe4 >= CASE WHEN c.script = 'cjk'
       |                       THEN ${CorpusQueries.L7QCjk}
       |                       ELSE ${CorpusQueries.L7QOther} END),
       |${Scripts.scriptCteSql("corpus", "text2", "cscr")},
       |${bigramCte("ctoks", "cgg", "cscr")},
       |${Scripts.lmCountsSql("cgg", b2, b1)},
       |${Scripts.lmScoreSql("cgg", b2, b1, pre = "c")},
       |csc AS (
       |  SELECT c.doc_id, c.script,
       |    coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    (c.script <> 'none' AND coalesce(n_grams, 0) > 0) AS lm_scorable
       |  FROM cscr c LEFT JOIN cper USING (doc_id)),
       |${Scripts.lmCutsSql("csc", TextQueries.SLmKeepNum, TextQueries.SLmKeepDen)},
       |qtoks AS (SELECT doc_id, ${toks("text2")} AS ws FROM qual),
       |${bigramCte("qtoks", "sgg", "qual")},
       |${Scripts.lmScoreSql("sgg", b2, b1, pre = "s")},
       |ssc AS (
       |  SELECT q.doc_id, q.script, q.text2,
       |    coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    (q.script <> 'none' AND coalesce(n_grams, 0) > 0) AS lm_scorable
       |  FROM qual q LEFT JOIN sper USING (doc_id)),
       |kept AS (
       |  SELECT s.doc_id, s.script, s.text2
       |  FROM ssc s LEFT JOIN cuts c USING (script)
       |  WHERE CASE WHEN NOT s.lm_scorable THEN TRUE
       |             ELSE (s.nll_fp * 1024) // s.n_grams
       |                    <= coalesce(c.cut, ${Long.MaxValue}) END),
       |counts AS (SELECT script, COUNT(*) AS n2 FROM kept GROUP BY script),
       |mn AS (SELECT MIN(n2) AS n_min FROM counts),
       |probs AS (
       |  SELECT script,
       |    CAST(FLOOR(LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n2 AS DOUBLE)), 1.0)
       |      * 1152921504606846976.0) AS BIGINT) AS thr
       |  FROM counts, mn),
       |sampled AS (
       |  SELECT k.doc_id, k.script, k.text2 AS text FROM kept k
       |  JOIN probs p ON k.script = p.script
       |  WHERE ${OracleSql.md5LongSql("k.doc_id::VARCHAR")}
       |          < p.thr),
       |toksf AS (SELECT doc_id, script, ${toks("text")} AS t FROM sampled),
       |starts AS (
       |  SELECT doc_id, script, t, unnest(range(0, len(t), 24)) AS token_start
       |  FROM toksf WHERE len(t) > 0),
       |chunks AS (
       |  SELECT doc_id, script, CAST(token_start AS BIGINT) AS token_start,
       |    CAST(len(t[token_start + 1 : token_start + 32]) AS BIGINT) AS n_tokens
       |  FROM starts),
       |cc2 AS (
       |  SELECT doc_id, script, token_start, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY script
       |      ORDER BY doc_id, token_start
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS before
       |  FROM chunks WHERE n_tokens > 0),
       |segs AS (
       |  SELECT script, doc_id, token_start, n_tokens, before,
       |    unnest(generate_series(
       |      CAST((before - before % 512) / 512 AS BIGINT),
       |      CAST(((before + n_tokens - 1) - (before + n_tokens - 1) % 512) / 512 AS BIGINT)))
       |      AS bin_id
       |  FROM cc2)
       |SELECT script, bin_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY script, bin_id
       |    ORDER BY GREATEST(before, bin_id * 512)) AS BIGINT) AS seq,
       |  doc_id,
       |  token_start + GREATEST(before, bin_id * 512) - before AS token_start,
       |  LEAST(before + n_tokens, (bin_id + 1) * 512)
       |    - GREATEST(before, bin_id * 512) AS token_len
       |FROM segs ORDER BY script, bin_id, seq""".stripMargin
  }

  // ---- w14: streaming LM-perplexity gate (batch twin) --------------------

  /** The hashed-bucket LM quality gate in its STREAM form: counts
    * trained batch-side on the trusted subset
    * ([[graft.text.LanguageModel.hashedCounts]], O(b2+b1) rows by
    * construction), collected to dense array literals, and every
    * document scored by a pure per-row fold — no shuffle, no state,
    * append-mode legal verbatim ([[graft.text.LanguageModel.nllColumns]];
    * StreamingSpec pins the MemoryStream run to these exact rows). The
    * gate keeps documents whose average NLL clears the threshold —
    * cross-multiplied (nll·2¹⁰ ≤ thresh·n_grams), no division. */

  def streamLmGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val lm = graft.text.LanguageModel
    val (c2, c1) = lm.hashedCounts(
      docs.filter(col("lang") === "en"), "text", LmB2, LmB1)
    val (d2, d1) = lm.denseCounts(c2, c1, LmB2, LmB1)
    val (n, nll) = lm.nllColumns(d2, d1, LmB2, LmB1, "text")
    docs.select(col("doc_id"), n.as("n_grams"), nll.as("nll_fp"))
      .withColumn("kept", col("n_grams") > 0L &&
        col("nll_fp") * 1024L <= col("n_grams") * lit(LmThresh))
      .orderBy("doc_id")
  }

  val streamLmGateSql: String = {
    val ws4 = OracleSql.asciiWordsSql("text")
    val pscale = graft.text.LanguageModel.PScale
    s"""WITH t AS (SELECT doc_id, lang, $ws4 AS ws FROM documents),
       |rb AS (
       |  SELECT doc_id, lang, ${OracleSql.md5BucketSql("g", LmB2)} AS b2k,
       |    ${OracleSql.md5BucketSql("split_part(g, ' ', 1)", LmB1)} AS b1k
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS g
       |        FROM t WHERE len(ws) >= 2)),
       |cb2 AS (SELECT b2k, COUNT(*) AS c2 FROM rb WHERE lang = 'en' GROUP BY b2k),
       |cb1 AS (SELECT b1k, COUNT(*) AS c1 FROM rb WHERE lang = 'en' GROUP BY b1k),
       |qq AS (
       |  SELECT doc_id, LEAST(GREATEST(
       |    ((coalesce(c2, 0) + 1) * $pscale) // (coalesce(c1, 0) + $LmB2),
       |    1), $pscale) AS q
       |  FROM rb LEFT JOIN cb2 USING (b2k) LEFT JOIN cb1 USING (b1k)),
       |per AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       |    SUM(${OracleSql.nllFpSql("q")})::BIGINT AS nll_fp
       |  FROM qq GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |  coalesce(n_grams, 0) > 0 AND
       |    coalesce(nll_fp, 0) * 1024 <= $LmThresh * coalesce(n_grams, 0) AS kept
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- w17: streaming Kneser–Ney fluency gate (batch twin) ---------------

  /** w14's cutoff discipline for the KN estimator: 4.8125 bits/gram
    * (1/16-bit steps are exact: 4.8125 · 2¹⁰ · 2¹⁶). Probed at the
    * gate SF on the t32 scores: keeps 91% of the trusted language
    * (en) and rejects 45–63% of the rest — a working gate, not
    * degenerate (KN's absolute discounting compresses the scale, so
    * w14's 9.25-bit add-one cutoff would keep everything). */
  private val W17Thresh = 322961408L

  /** The t32 Kneser–Ney scorer in its DEPLOYED stream form: the dense
    * KN statistics (bigram counts + prefix/continuation type counts +
    * the type total) collected driver-side and every document scored
    * by the native [[graft.functions.BigramScore]] kernel — ONE per-row
    * fold instead of the join form's four bucket equi-joins per gram
    * (which ran linear at the ×100 rehearsal); no shuffle, no state,
    * append-mode legal (StreamingSpec pins the MemoryStream run).
    * Gate keeps documents whose average NLL clears the threshold,
    * cross-multiplied — no division. */
  def streamKnGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val lm = graft.text.LanguageModel
    val (c2, c1, cont, totals) = lm.knHashedCounts(
      docs.filter(col("lang") === "en"), "text",
      TextQueries.KnB2, TextQueries.KnB1)
    val (d2, dc1, dn1, dco, t) = lm.knDenseCounts(c2, c1, cont, totals,
      TextQueries.KnB2, TextQueries.KnB1)
    val (n, nll) = lm.knNllColumns(d2, dc1, dn1, dco, t,
      TextQueries.KnB2, TextQueries.KnB1, "text")
    docs.select(col("doc_id"), n.as("n_grams"), nll.as("nll_fp"))
      .withColumn("kept", col("n_grams") > 0L &&
        col("nll_fp") * 1024L <= col("n_grams") * lit(W17Thresh))
      .orderBy("doc_id")
  }

  /** Mirror: the shared t32 KN chain with the threshold gate. */
  val streamKnGateSql: String =
    s"""WITH ${TextQueries.KnChainSql}
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |  coalesce(n_grams, 0) > 0 AND
       |    coalesce(nll_fp, 0) * 1024 <= $W17Thresh * coalesce(n_grams, 0)
       |    AS kept
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- w18: streaming BM25 retrieval gate (batch twin) -------------------

  /** Retrieval-gate threshold, measured on the best-score
    * distributions at sf0.001/0.01/0.1 and RECALL-oriented (the
    * decontamination posture: a missed leak costs an eval benchmark,
    * a spurious flag costs one document): the planted contaminated
    * population — strong twins at marker tf = 2 and weak single-
    * mention leaks — bottoms at 3.39·10⁸ across SFs, so 3.3·10⁸ flags
    * EVERY planted leak at every SF. Background documents crossing it
    * (0% / 2% / 1.8% per SF) all share a genuinely rare corpus term
    * with an eval prompt — surfacing exactly those is what a
    * retrieval gate is for. */
  private val W18Thresh = 330000000L

  /** The s12 BM25 retrieval in its DEPLOYED stream form — the
    * decontamination-by-retrieval gate ("does this incoming crawl
    * document retrieve against any eval prompt?"): query-term idf/CSR
    * statistics trained on the corpus and collected driver-side
    * ([[graft.text.Bm25.denseModel]] — eval-set sized by
    * construction), every document scored by the native
    * [[graft.functions.Bm25Score]] kernel — ONE shuffle-free per-row
    * pass (the join form shuffles per (doc, term)); no state,
    * append-mode legal (StreamingSpec pins the MemoryStream run).
    * Unlike s12 the self pair is KEPT: a probe document streaming
    * back IS a retrieval hit. Ties go to the smallest query id;
    * documents matching no query term carry best_query_id = −1. */
  def streamBm25Gate(spark: SparkSession, dir: String): DataFrame = {
    val docs = SimQueries.bm25Docs(Tables.load(spark, dir, "documents"))
    val post = SimQueries.bm25Postings(docs)
    val probes = SimQueries.bm25Probes(docs, post)
    val model = graft.text.Bm25.denseModel(docs, probes, "text", "doc_id",
      Some(post))
    val stats = graft.functions.Bm25Score(col("text"), model)
    docs.select(col("doc_id"),
        element_at(stats, 1).as("best_query_id"),
        element_at(stats, 2).as("best_score_fp"),
        element_at(stats, 3).as("n_tokens"))
      .withColumn("flagged", col("best_score_fp") >= W18Thresh)
      .orderBy("doc_id")
  }

  /** Mirror: the shared s12 chain, self pair kept, per-document argmax
    * restricted to positive scores (the kernel reports −1 when every
    * matched term carries zero idf), ties to the smallest query id. */
  val streamBm25GateSql: String =
    s"""WITH ${SimQueries.Bm25ChainSql},
       |${SimQueries.bm25ScoreSql("")},
       |best AS (
       |  SELECT doc_id, query_id, score_fp FROM (
       |    SELECT doc_id, query_id, score_fp,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY score_fp DESC, query_id) AS rn
       |    FROM sc WHERE score_fp > 0)
       |  WHERE rn = 1)
       |SELECT d.doc_id,
       |  coalesce(b.query_id, -1)::BIGINT AS best_query_id,
       |  coalesce(b.score_fp, 0)::BIGINT AS best_score_fp,
       |  len(t.ws)::BIGINT AS n_tokens,
       |  coalesce(b.score_fp, 0) >= $W18Thresh AS flagged
       |FROM documents d JOIN t USING (doc_id) LEFT JOIN best b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- w19: streaming mixture-sampling gate (batch twin) -----------------

  /** The t36 DoReMi mixture DEPLOYED as a stream sampler: weights
    * trained on the md5-split history ([[graft.sim.DomainMix
    * .lossReweight]] → [[graft.sim.DomainMix.mixtureRates]] — the
    * hottest domain keeps everything, others thin by weight), the
    * incoming dump (odd ids) gated per row by the portable 60-bit md5
    * key against its domain's broadcast threshold — the t11
    * weighted-sample device fed by the loss-aware mixture. The
    * deployed stage is a broadcast stream-static join + a stateless
    * filter column: append-mode legal (the w7 gate convention). */
  def streamMixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // history split on the PORTABLE md5 key, not id arithmetic: the
    // synthetic source column IS doc_id % 20, so any residue split
    // correlates perfectly with source and trains on half the domains
    val hkey = pmod(graft.dedup.Dedup.md5Long(col("doc_id").cast("string")),
      lit(2L))
    val hist = docs.filter(hkey === 0L)
    val mix = graft.sim.DomainMix.lossReweight(hist,
      hist.filter(col("lang") === "en"), "text", "doc_id", "source")
    val rates = graft.sim.DomainMix.mixtureRates(mix)
      .withColumnRenamed("domain", "source")
    docs.filter(hkey === 1L)
      .join(broadcast(rates), Seq("source"))
      .select(col("doc_id"), col("source"),
        graft.dedup.Dedup.md5Long(col("doc_id").cast("string"))
          .as("sample_key"),
        col("rate_thr"))
      .withColumn("kept", col("sample_key") < col("rate_thr"))
      .orderBy("doc_id")
  }

  /** Mirror: the shared t36 chain over the md5-even history, the
    * threshold derivation, and the md5 gate over the md5-odd dump. */
  val streamMixtureSampleSql: String =
    s"""WITH ${TextQueries.domainReweightChainSql(
         s"WHERE ${OracleSql.md5U60Sql("CAST(doc_id AS VARCHAR)")} % 2 = 0")},
       |rates AS (
       |  SELECT domain AS source,
       |    (((weight_fp * ${1L << 40}) // MAX(weight_fp) OVER ())
       |      * ${1L << 20})::BIGINT AS rate_thr
       |  FROM wt)
       |SELECT d.doc_id, d.source,
       |  ${OracleSql.md5U60Sql("CAST(d.doc_id AS VARCHAR)")}
       |    ::BIGINT AS sample_key,
       |  r.rate_thr,
       |  ${OracleSql.md5U60Sql("CAST(d.doc_id AS VARCHAR)")}
       |    ::BIGINT < r.rate_thr AS kept
       |FROM documents d JOIN rates r USING (source)
       |WHERE ${OracleSql.md5U60Sql("CAST(d.doc_id AS VARCHAR)")} % 2 = 1
       |ORDER BY d.doc_id""".stripMargin

  // ---- w16: streaming per-LANGUAGE LM gate (batch twin) ------------------

  /** The t30 per-language models in their DEPLOYED stream form — the
    * w14↔t28 relationship at CCNet granularity (Wenzek et al. 2020,
    * one LM per language): hashed bigram counts per language trained
    * on the accumulated HISTORY (even doc ids), collected into
    * language-segmented dense arrays, per-language percentile cuts
    * trained on the history's own score distribution, and the incoming
    * dump (odd doc ids) scored per row by the native
    * [[graft.functions.BigramScore]] kernel routed by the t1
    * language vote and gated against its OWN language's literal cut.
    * The deployed stage is pure columns — no shuffle, no state,
    * append-mode legal (StreamingSpec pins the MemoryStream run);
    * 'unknown'-routed documents are tagged lm_scorable = false and
    * KEPT, the explicit unscorable policy. */
  def streamLangLmGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{ScriptLm, TextAnalysis}
    val keys = TextAnalysis.markers.keys.toSeq.sorted
    val marked = keys.foldLeft(lit("")) { (acc, l) =>
      when(col("lang") === l, lit(TextQueries.langMarkerPrefix(l)))
        .otherwise(acc)
    }
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 41 === 0, lit(TextQueries.NoScriptFiller))
          .otherwise(concat(marked, col("text"))).as("text"))
    val route = TextAnalysis.langId("text")
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val (c2, c1) = ScriptLm.hashedCountsBy(hist, "text", route,
      TextQueries.SLmB2, TextQueries.SLmB1)
    val (d2, d1) = ScriptLm.denseCounts(c2, c1, TextQueries.SLmB2,
      TextQueries.SLmB1, keys = keys)
    // ONE kernel-scored per-row stage serves both populations: the
    // history pass that trains the cuts runs the same deployed columns
    // the stream gate runs (the join-form scoreBy here cost ~2× the
    // whole query at the ×100 rehearsal)
    val scoredAll = StagePersists.track(ScriptLm.withScores(docs, (d2, d1),
        TextQueries.SLmB2, TextQueries.SLmB1, "text", route, keys,
        noneKey = "unknown")
      .select("doc_id", "script", "n_grams", "nll_fp", "lm_scorable"))
    val cuts = ScriptLm.percentileCuts(
      scoredAll.filter(col("doc_id") % 2 === 0),
      TextQueries.SLmKeepNum, TextQueries.SLmKeepDen)
    scoredAll.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("script").as("lang"), col("n_grams"),
        col("nll_fp"), col("lm_scorable"),
        ScriptLm.gateKept(col("script"), col("n_grams"), col("nll_fp"), cuts,
          noneKey = "unknown").as("kept"))
      .orderBy("doc_id")
  }

  /** Mirror: the t30 CTE chain with the training and cut populations
    * restricted to the even-id history and the output to the odd-id
    * dump; a stream language with no trained cut keeps everything
    * (the coalesce mirrors gateKept's MaxValue fallback). */
  val streamLangLmGateSql: String = {
    import TextQueries.Scripts._
    import TextQueries.{SLmB2, SLmB1, SLmKeepNum, SLmKeepDen}
    val prefixCase = "CASE lang " + graft.text.TextAnalysis.markers.keys
      .toSeq.sorted
      .map(l => s"WHEN '$l' THEN '${TextQueries.langMarkerPrefix(l)}'")
      .mkString(" ") + " ELSE '' END"
    s"""WITH docs3 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 41 = 0
       |                      THEN '${TextQueries.NoScriptFiller}'
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
       |${lmCountsSql("gg", SLmB2, SLmB1, where = "WHERE doc_id % 2 = 0 ")},
       |${lmScoreSql("gg", SLmB2, SLmB1, noneKey = "unknown")},
       |sc0 AS (
       |  SELECT s.doc_id, s.script,
       |    coalesce(n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(nll_fp, 0)::BIGINT AS nll_fp,
       |    (s.script <> 'unknown' AND coalesce(n_grams, 0) > 0) AS lm_scorable
       |  FROM lid s LEFT JOIN per USING (doc_id)),
       |hist_sc AS (SELECT * FROM sc0 WHERE doc_id % 2 = 0),
       |${lmCutsSql("hist_sc", SLmKeepNum, SLmKeepDen)}
       |SELECT s.doc_id, s.script AS lang, s.n_grams, s.nll_fp, s.lm_scorable,
       |  (CASE WHEN NOT s.lm_scorable THEN TRUE
       |        ELSE (s.nll_fp * 1024) // s.n_grams
       |          <= coalesce(c.cut, ${Long.MaxValue}) END) AS kept
       |FROM sc0 s LEFT JOIN cuts c USING (script)
       |WHERE s.doc_id % 2 = 1
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---- w21: streaming training-feed router (batch twin) ------------------

  private val FeedSeed = "r13"
  private val FeedShards = 8

  /** The DEPLOYED stage: broadcast stream-static join to the trained
    * plan + pure stateless columns — append-mode legal verbatim
    * (StreamingSpec pins the MemoryStream run). `dump` carries
    * (doc_id, lang, n_toks); `plan` is (lang, rate_thr) from
    * [[graft.sim.DomainMix.epochPlan]]. */
  def trainingFeedStage(dump: DataFrame, plan: DataFrame): DataFrame =
    dump.join(broadcast(plan), Seq("lang"))
      .withColumn("sample_key",
        graft.dedup.Dedup.md5Long(col("doc_id").cast("string")))
      .withColumn("admitted", col("sample_key") < col("rate_thr"))
      .withColumn("shard",
        pmod(graft.dedup.Dedup.md5Long(concat(lit(FeedSeed), lit(":"),
          col("doc_id").cast("string"))), lit(FeedShards.toLong)))

  /** The l11 epoch/sampling plan DEPLOYED on the feed: the plan is
    * trained on the md5-even HISTORY (control plane), and each
    * md5-odd arrival is routed per row — its language's 60-bit
    * threshold gates admission (an over-represented language thins to
    * its planned single-pass rate; an under-represented one keeps
    * everything — its extra epochs are the PLAN's repeated-pass job,
    * not the stream's), and every arrival gets its reproducible
    * training shard (the t40 seeded hash, stateless; within-shard
    * sequence is the shard writer's stateful concern). */
  def streamTrainingFeed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val hkey = pmod(graft.dedup.Dedup.md5Long(col("doc_id").cast("string")),
      lit(2L))
    val hist = docs.filter(hkey === 0L)
      .select(col("lang"),
        graft.text.TextAnalysis.tokenCount("text").as("n_toks"))
    val plan = graft.sim.DomainMix.epochPlan(hist, "lang", "n_toks",
        budgetNum = 1L, budgetDen = 2L, maxEpochs = 4)
      .select(col("group").as("lang"), col("rate_thr"))
    val dump = docs.filter(hkey === 1L)
      .select(col("doc_id"), col("lang"),
        graft.text.TextAnalysis.tokenCount("text").as("n_toks"))
    trainingFeedStage(dump, plan)
      .select("doc_id", "lang", "n_toks", "sample_key", "rate_thr",
        "admitted", "shard")
      .orderBy("doc_id")
  }

  /** Mirror: the shared l11 chain over the md5-even history, the
    * threshold CASE, and the md5 gate + shard hash over the odd dump. */
  val streamTrainingFeedSql: String = {
    val key = OracleSql.md5U60Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH ${SimQueries.epochPlanChainSql(s"WHERE $key % 2 = 0")},
       |plan AS (
       |  SELECT lang,
       |    (CASE WHEN tokens_avail > target_tokens
       |       THEN ((target_tokens * ${1L << 40}) // tokens_avail) * ${1L << 20}
       |       ELSE ${1L << 60} END)::BIGINT AS rate_thr
       |  FROM p),
       |dump AS (
       |  SELECT doc_id, lang, n AS n_toks,
       |    ($key)::BIGINT AS sample_key
       |  FROM (SELECT doc_id, lang,
       |          len(${OracleSql.wordsSql("text")})::BIGINT AS n
       |        FROM documents WHERE $key % 2 = 1))
       |SELECT d.doc_id, d.lang, d.n_toks, d.sample_key, r.rate_thr,
       |  d.sample_key < r.rate_thr AS admitted,
       |  (${OracleSql.md5LongSql(s"'$FeedSeed:' || CAST(d.doc_id AS VARCHAR)")}
       |    % $FeedShards) AS shard
       |FROM dump d JOIN plan r USING (lang)
       |ORDER BY d.doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w21_stream_training_feed" -> (streamTrainingFeed _),
    "w19_stream_mixture_sample" -> (streamMixtureSample _),
    "w18_stream_bm25_gate" -> (streamBm25Gate _),
    "w17_stream_kn_gate" -> (streamKnGate _),
    "w16_stream_lang_lm" -> (streamLangLmGate _),
    "w15_stream_multilingual" -> (streamMultilingual _),
    "w14_stream_lm_gate" -> (streamLmGate _),
    "w13_stream_pipeline" -> (streamCorpusPipeline _),
    "w11_stream_line_filter" -> (streamLineFilter _),
    "w10_stream_profile" -> (streamProfileState _),
    "w7_stream_source_gate" -> (streamSourceGate _),
    "w8_stream_drift_alarm" -> (streamDriftAlarm _),
    "w1_windowed_stats" -> (windowedStats _),
    "w2_session_stats" -> (sessionStats _),
    "w3_stream_dedup" -> (streamDedup _),
    "w4_stream_decontamination" -> (streamDecontamination _),
    "w5_stream_weighted_sample" -> (streamWeightedSample _),
    "w6_stream_packed" -> (streamPacked _),
    "w9_stream_neardup" -> (streamNearDupEvidence _))

  def oracleSql: Map[String, String] = Map(
    "w21_stream_training_feed" -> streamTrainingFeedSql,
    "w19_stream_mixture_sample" -> streamMixtureSampleSql,
    "w18_stream_bm25_gate" -> streamBm25GateSql,
    "w17_stream_kn_gate" -> streamKnGateSql,
    "w16_stream_lang_lm" -> streamLangLmGateSql,
    "w15_stream_multilingual" -> streamMultilingualSql,
    "w14_stream_lm_gate" -> streamLmGateSql,
    "w13_stream_pipeline" -> streamCorpusPipelineSql,
    "w11_stream_line_filter" -> streamLineFilterSql,
    "w10_stream_profile" -> streamProfileStateSql,
    "w7_stream_source_gate" -> streamSourceGateSql,
    "w8_stream_drift_alarm" -> streamDriftAlarmSql,
    "w1_windowed_stats" -> windowedStatsSql,
    "w2_session_stats" -> sessionStatsSql,
    "w3_stream_dedup" -> streamDedupSql,
    "w4_stream_decontamination" -> streamDecontaminationSql,
    "w5_stream_weighted_sample" -> streamWeightedSampleSql,
    "w6_stream_packed" -> streamPackedSql,
    "w9_stream_neardup" -> streamNearDupEvidenceSql)
}
