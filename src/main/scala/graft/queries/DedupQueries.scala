package graft.queries

import graft.Tables
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-gate queries for the deduplication suite. The oracle SQL
  * rebuilds each pipeline from scratch in DuckDB over md5-derived
  * hashes, so even MinHash signatures compare bit-exact.
  */
object DedupQueries {

  // Shared DuckDB fragments -------------------------------------------------
  private val WS = OracleSql.asciiWordsSql("text")
  /** word 3-gram shingles, distinct per doc */
  private val GRAMS3 =
    s"""g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 1, 1)),
       |    i -> $WS[i] || ' ' || $WS[i+1] || ' ' || $WS[i+2])) AS g
       |  FROM documents WHERE len($WS) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id)""".stripMargin
  private def h30(e: String) =
    OracleSql.md5BucketSql(e, 1073741824)

  // ---- d1: exact duplicate groups --------------------------------------

  /** documents ∪ shifted copy → every doc has exactly one exact dup;
    * exercises hash-group dedup deterministically on dup-free data. */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val doubled = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    Dedup.exactDuplicateGroups(doubled, "text", "doc_id")
      .orderBy("canonical_id")
  }

  val exactDupGroupsSql: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS canonical_id
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |GROUP BY md5(text) HAVING COUNT(*) > 1
      |ORDER BY canonical_id""".stripMargin

  // ---- d2: n-gram Jaccard near-duplicate pairs -------------------------

  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.jaccardPairs(Dedup.wordShingles(docs, "text", "doc_id", 3),
        threshold = 0.8, maxDocFreq = 100000)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("ida", "idb")
  }

  val jaccardPairsSql: String =
    s"""WITH $GRAMS3,
       |pairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida, idb, common,
       |  ROUND(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON ida = sa.doc_id
       |JOIN sizes sb ON idb = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.8
       |ORDER BY ida, idb""".stripMargin

  // ---- d3: MinHash signatures ------------------------------------------

  val NumPerms = 16

  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.minhashSignatures(Dedup.wordShingles(docs, "text", "doc_id", 3), NumPerms)
      .orderBy("id", "perm_id")
  }

  val minhashSignaturesSql: String =
    s"""WITH $GRAMS3,
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams)
       |SELECT * FROM (
       |${OracleSql.minhashSigsSql("hashes", NumPerms)}
       |) ORDER BY id, perm_id""".stripMargin

  // ---- d4: MinHash-LSH near-duplicate pairs, end to end ----------------

  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleSize = 3, numPerms = NumPerms, rowsPerBand = 4, threshold = 0.8)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("ida", "idb")
  }

  val minhashPairsSql: String = {
    s"""WITH $GRAMS3,
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.id < b.id),
       |pairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  JOIN cands c ON c.ida = a.doc_id AND c.idb = b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       |  ROUND(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON ida = sa.doc_id
       |JOIN sizes sb ON idb = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.8
       |ORDER BY ida, idb""".stripMargin
  }

  // ---- d5: SimHash near-duplicate pairs --------------------------------

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.simhashPairs(Dedup.simhash(docs, "text", "doc_id"), maxDistance = 3)
      .orderBy("ida", "idb")
  }

  /** Mirrors the 64-bit [[Dedup.simhash]]: 64 word-hash bits from two
    * 32-bit md5 slices. DuckDB BIGINT errors on overflow, so the
    * signature accumulates as unsigned HUGEINT (`usig`) and converts to
    * the signed two's-complement BIGINT (`ssig`) once for xor/bit_count
    * — bit-identical to Spark's signed Long. Band keys slice `usig`,
    * matching Spark's shiftright+pmod on the signed value. */
  val simhashPairsSql: String = {
    val bits = (0 until 64).map { i =>
      val src = if (i < 32) s"(hlo // ${1L << i})" else s"(hhi // ${1L << (i - 32)})"
      s"SUM(CASE WHEN $src % 2 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val sig = (0 until 64).map(i =>
      s"CASE WHEN b$i > 0 THEN ${java.math.BigInteger.ONE.shiftLeft(i)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    val bandStructs = (0 until 4).map(b =>
      s"SELECT id, ssig, $b AS band, ((usig // ${1L << (b * 16)}) % 65536)::BIGINT AS key FROM sigs2")
      .mkString("\nUNION ALL\n")
    s"""WITH words0 AS (
       |  SELECT doc_id, unnest($WS) AS word FROM documents),
       |words AS (SELECT DISTINCT doc_id, word FROM words0 WHERE word <> ''),
       |hw AS (SELECT doc_id,
       |         ('0x' || substr(md5(word), 1, 8))::UBIGINT::BIGINT AS hlo,
       |         ('0x' || substr(md5(word), 9, 8))::UBIGINT::BIGINT AS hhi
       |       FROM words),
       |votes AS (
       |  SELECT doc_id AS id,
       |    $bits
       |  FROM hw GROUP BY doc_id),
       |sigs AS (SELECT id, ($sig) AS usig FROM votes),
       |sigs2 AS (SELECT id, usig,
       |  (CASE WHEN usig >= 9223372036854775808::HUGEINT
       |        THEN usig - 18446744073709551616::HUGEINT ELSE usig END)::BIGINT AS ssig
       |  FROM sigs),
       |banded AS ($bandStructs)
       |SELECT DISTINCT a.id AS ida, b.id AS idb,
       |  bit_count(xor(a.ssig, b.ssig)) AS hamming
       |FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |WHERE a.id < b.id AND bit_count(xor(a.ssig, b.ssig)) <= 3
       |ORDER BY ida, idb""".stripMargin
  }

  // ---- d6: embedding-cosine near-duplicate pairs -----------------------

  /** embeddings ∪ perturbed copy (every component +0.02 in double —
    * bit-identical arithmetic in both engines) → every vector has one
    * planted near-dup at cosine ≈0.99 while natural pairs stay ≤0.52.
    * Banded sign-LSH candidates, exact rounded-cosine verify ≥0.95. */
  def embeddingDups(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val copy = emb.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x.cast("double") + lit(0.02)).as("vd"))
    graft.sim.Similarity.cosineNearDupPairs(
        base.unionByName(copy), "vec_id", "vd",
        threshold = 0.95, bands = 4, planesPerBand = 8, dim = 64)
      .orderBy("ida", "idb")
  }

  val embeddingDupsSql: String = {
    import graft.sim.Similarity
    def bitsFor(t: String, planes: Seq[Seq[Double]]) =
      planes.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($t.vd, $arr::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    val bandSelects = (0 until 4).map { b =>
      val planes = Similarity.hyperplanes(8, 64, seed = 42L + b)
      s"SELECT vec_id AS id, $b AS band, (${bitsFor("doubled", planes)})::BIGINT AS key FROM doubled"
    }.mkString("\nUNION ALL\n")
    val cos = "list_dot_product(va.vd, vb.vd) / " +
      "(sqrt(list_dot_product(va.vd, va.vd)) * sqrt(list_dot_product(vb.vd, vb.vd)))"
    s"""WITH doubled AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x + 0.02)
       |  FROM embeddings),
       |banded AS (
       |$bandSelects),
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT ida, idb, score FROM (
       |  SELECT ida, idb, ROUND($cos, 4) AS score
       |  FROM cands
       |  JOIN doubled va ON ida = va.vec_id
       |  JOIN doubled vb ON idb = vb.vec_id)
       |WHERE score >= 0.95
       |ORDER BY ida, idb""".stripMargin
  }

  // ---- d9: duplicate-passage statistics --------------------------------

  /** 20 lowercase words appended to every fifth document so passage
    * windows are demonstrably shared across docs (the base corpus is
    * random word streams — naturally shared 10-grams are vanishingly
    * rare). */
  private val Boiler = "common footer license text appended to every " +
    "fifth document for passage level duplication testing across the " +
    "synthetic corpus stream ok"

  def dupPassages(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + Boiler)))
        .otherwise(col("text")).as("text"))
    Dedup.passageDupStats(planted, "text", "doc_id", k = 10)
      .select(col("id").as("doc_id"), col("n_windows"), col("n_shared"),
        TextQueries.round4(col("dup_frac")).as("dup_frac"))
      .orderBy("doc_id")
  }

  val dupPassagesSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' $Boiler' ELSE '' END AS text
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 8, 1)),
       |    i -> array_to_string($WS[i : i + 9], ' '))) AS g
       |  FROM planted WHERE len($WS) >= 10),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |freq AS (SELECT g, COUNT(*) AS dfc FROM grams GROUP BY g),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_windows,
       |    CAST(coalesce(SUM(CASE WHEN dfc > 1 THEN 1 END), 0) AS BIGINT) AS n_shared
       |  FROM grams JOIN freq USING (g) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       |  FLOOR((CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0
       |         ELSE CAST(n_shared AS DOUBLE) / CAST(n_windows AS DOUBLE) END)
       |    * 10000 + 0.5) / 10000 AS dup_frac
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- d10: exact-substring dedup rewrite ------------------------------

  /** The d9 boilerplate planting, but REWRITTEN: the first doc carrying
    * the planted footer keeps it, every later carrier has those token
    * positions removed and is reassembled ([[Dedup.exactSubstringDedup]],
    * k = 10). */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + Boiler)))
        .otherwise(col("text")).as("text"))
    Dedup.exactSubstringDedup(planted, "text", "doc_id", k = 10)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  val substringDedupSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' $Boiler' ELSE '' END AS text
       |  FROM documents),
       |toks AS (SELECT doc_id, $WS AS ws FROM planted),
       |occ0 AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) - 8)) AS i
       |  FROM toks WHERE len(ws) >= 10),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |    array_to_string(ws[i : i + 9], ' ') AS g
       |  FROM occ0),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |cov AS (
       |  SELECT doc_id, list_distinct(flatten(list(range(pos, pos + 10)))) AS cov
       |  FROM ranked WHERE rn > 1 GROUP BY doc_id)
       |SELECT t.doc_id, len(ws)::BIGINT AS n_tokens,
       |  coalesce(len(cov), 0)::BIGINT AS n_removed,
       |  coalesce(array_to_string(
       |    list_filter(ws, (w, i) -> NOT list_contains(
       |      coalesce(cov, CAST([] AS BIGINT[])), i - 1)), ' '), '') AS clean_text
       |FROM toks t LEFT JOIN cov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- s6: semantic dedup (SemDeDup-style) over embeddings -------------

  /** Embedding-space dedup groups: the d6 cosine near-dup pairs
    * (sign-LSH banded, exact-cosine verified) closed into connected
    * components with the deterministic min-id canonical pick — the
    * SemDeDup recipe (Abbas et al. 2023: keep one representative per
    * semantic-duplicate cluster), sharing l1's component machinery. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val copy = emb.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x.cast("double") + lit(0.02)).as("vd"))
    val pairs = graft.sim.Similarity.cosineNearDupPairs(
        base.unionByName(copy), "vec_id", "vd",
        threshold = 0.95, bands = 4, planesPerBand = 8, dim = 64)
      .select(col("ida"), col("idb"))
    graft.dedup.Components.dupComponents(pairs, "ida", "idb")
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  }

  val semanticDedupSql: String = {
    import graft.sim.Similarity
    def bitsFor(t: String, planes: Seq[Seq[Double]]) =
      planes.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($t.vd, $arr::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    val bandSelects = (0 until 4).map { b =>
      val planes = Similarity.hyperplanes(8, 64, seed = 42L + b)
      s"SELECT vec_id AS id, $b AS band, (${bitsFor("doubled", planes)})::BIGINT AS key FROM doubled"
    }.mkString("\nUNION ALL\n")
    val cos = "list_dot_product(va.vd, vb.vd) / " +
      "(sqrt(list_dot_product(va.vd, va.vd)) * sqrt(list_dot_product(vb.vd, vb.vd)))"
    s"""WITH RECURSIVE doubled AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x + 0.02)
       |  FROM embeddings),
       |banded AS (
       |$bandSelects),
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |pairs AS (
       |  SELECT ida, idb FROM (
       |    SELECT ida, idb, ROUND($cos, 4) AS score
       |    FROM cands
       |    JOIN doubled va ON ida = va.vec_id
       |    JOIN doubled vb ON idb = vb.vec_id)
       |  WHERE score >= 0.95),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component_id,
       |  src = LEAST(src, MIN(dst)) AS is_canonical
       |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin
  }

  // ---- d7: near-dup connected components + canonical pick --------------

  /** Transitive closure of the d4 near-dup pairs → one component id per
    * involved doc (the component's min doc_id) and the deterministic
    * canonical pick. The union with the d5 SimHash pairs exercises
    * multi-source evidence merging — components span pairs no single
    * detector emitted. */
  def dupComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val minhash = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleSize = 3, numPerms = NumPerms, rowsPerBand = 4, threshold = 0.8)
      .select(col("ida"), col("idb"))
    val simhash = Dedup.simhashPairs(Dedup.simhash(docs, "text", "doc_id"),
        maxDistance = 3)
      .select(col("ida"), col("idb"))
    graft.dedup.Components.dupComponents(
        minhash.unionByName(simhash), "ida", "idb")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** DuckDB mirror: the d4 + d5 pair pipelines verbatim, then a
    * recursive transitive closure; component id = min reachable id. */
  val dupComponentsSql: String = {
    val bits = (0 until 64).map { i =>
      val src = if (i < 32) s"(hlo // ${1L << i})" else s"(hhi // ${1L << (i - 32)})"
      s"SUM(CASE WHEN $src % 2 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val sig = (0 until 64).map(i =>
      s"CASE WHEN b$i > 0 THEN ${java.math.BigInteger.ONE.shiftLeft(i)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    val bandStructs = (0 until 4).map(b =>
      s"SELECT id, ssig, $b AS band, ((usig // ${1L << (b * 16)}) % 65536)::BIGINT AS key FROM sh_sigs2")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $GRAMS3,
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
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
       |words0 AS (SELECT doc_id, unnest($WS) AS word FROM documents),
       |words AS (SELECT DISTINCT doc_id, word FROM words0 WHERE word <> ''),
       |hw AS (SELECT doc_id,
       |         ('0x' || substr(md5(word), 1, 8))::UBIGINT::BIGINT AS hlo,
       |         ('0x' || substr(md5(word), 9, 8))::UBIGINT::BIGINT AS hhi
       |       FROM words),
       |votes AS (
       |  SELECT doc_id AS id,
       |    $bits
       |  FROM hw GROUP BY doc_id),
       |sh_sigs AS (SELECT id, ($sig) AS usig FROM votes),
       |sh_sigs2 AS (SELECT id, usig,
       |  (CASE WHEN usig >= 9223372036854775808::HUGEINT
       |        THEN usig - 18446744073709551616::HUGEINT ELSE usig END)::BIGINT AS ssig
       |  FROM sh_sigs),
       |banded AS ($bandStructs),
       |sh_pairs AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |  WHERE a.id < b.id AND bit_count(xor(a.ssig, b.ssig)) <= 3),
       |all_pairs AS (SELECT * FROM mh_pairs UNION SELECT * FROM sh_pairs),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM all_pairs
       |          UNION SELECT idb, ida FROM all_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id,
       |  src = LEAST(src, MIN(dst)) AS is_canonical
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  }

  // ---- d12: IDF-weighted near-duplicate pairs --------------------------

  /** Weighted Jaccard on a corpus where EVERY document carries the same
    * boilerplate footer: the shared footer's shingles have df = N, so
    * their ⌊10⁶/df⌋ weight is negligible and only genuinely shared
    * content creates pairs — the boilerplate robustness plain d2 lacks.
    * Threshold 0.5 (weighted similarity of true near-dups stays high;
    * footer-only overlap lands near zero).
    *
    * maxDocFreq = 100 is the load-bearing scale bound here: the planted
    * footer's shingles sit in EVERY doc, so without the stop-gram cut
    * the inverted-index self-join expands N²·|footer| rows (measured
    * 71 s at sf0.1 vs ~2 s bounded). Masses keep the full weights
    * (the operator drops stop-grams from the JOIN only), so scores
    * change just by the footer's negligible shared weight. */
  def weightedJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.select(col("doc_id"),
      concat(col("text"), lit(" " + Boiler)).as("text"))
    Dedup.weightedJaccardPairs(
        Dedup.wordShingles(planted, "text", "doc_id", 3),
        threshold = 0.5, maxDocFreq = 100)
      .withColumn("wjaccard", round(col("wjaccard"), 6))
      .orderBy("ida", "idb")
  }

  val weightedJaccardPairsSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, text || ' $Boiler' AS text FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 1, 1)),
       |    i -> $WS[i] || ' ' || $WS[i+1] || ' ' || $WS[i+2])) AS g
       |  FROM planted WHERE len($WS) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |dfs AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
       |wg AS (
       |  SELECT doc_id, g, df, CAST(FLOOR(1000000.0 / df) AS BIGINT) AS w
       |  FROM grams JOIN dfs USING (g)),
       |masses AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS mass FROM wg GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(SUM(a.w) AS BIGINT) AS shared_w
       |  FROM wg a JOIN wg b ON a.g = b.g AND a.doc_id < b.doc_id
       |  WHERE a.df <= 100 AND b.df <= 100
       |  GROUP BY 1, 2)
       |SELECT ida, idb, shared_w,
       |  ROUND(CAST(shared_w AS DOUBLE)
       |    / CAST(ma.mass + mb.mass - shared_w AS DOUBLE), 6) AS wjaccard
       |FROM shared
       |JOIN masses ma ON ida = ma.doc_id
       |JOIN masses mb ON idb = mb.doc_id
       |WHERE CAST(shared_w AS DOUBLE)
       |    / CAST(ma.mass + mb.mass - shared_w AS DOUBLE) >= 0.5
       |ORDER BY ida, idb""".stripMargin

  // ---- d13: incremental dedup — new batch vs existing corpus -----------

  /** Split documents by doc_id parity: even = the accumulated corpus,
    * odd = the incoming dump. The planted near-dup pairs that straddle
    * the parity split are exactly what incremental dedup must catch;
    * same-side pairs must NOT appear (no self-join on either frame). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.crossCorpusNearDuplicates(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", shingleSize = 3, numPerms = NumPerms,
        rowsPerBand = 4, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("batch_id", "corpus_id")
  }

  /** d4's minhash mirror with the candidate join split by parity:
    * signatures/bands are per-doc, so computing them over all docs and
    * filtering parity IN the join is identical to two per-side runs. */
  val incrementalDedupSql: String = {
    s"""WITH $GRAMS3,
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
       |cands AS (
       |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bands b JOIN bands c ON b.band = c.band AND b.bucket = c.bucket
       |  WHERE b.id % 2 = 1 AND c.id % 2 = 0),
       |pairs AS (
       |  SELECT bg.doc_id AS batch_id, cg.doc_id AS corpus_id,
       |    COUNT(*) AS common
       |  FROM grams bg JOIN grams cg ON bg.g = cg.g
       |  JOIN cands k ON k.batch_id = bg.doc_id AND k.corpus_id = cg.doc_id
       |  GROUP BY 1, 2)
       |SELECT batch_id, corpus_id,
       |  ROUND(CAST(common AS DOUBLE)
       |    / CAST(sb.sz + sc.sz - common AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sb ON batch_id = sb.doc_id
       |JOIN sizes sc ON corpus_id = sc.doc_id
       |WHERE CAST(common AS DOUBLE)
       |    / CAST(sb.sz + sc.sz - common AS DOUBLE) >= 0.5
       |ORDER BY batch_id, corpus_id""".stripMargin
  }

  // ---- d17: incremental component maintenance --------------------------

  /** The component-level completion of d13: the even docs are the
    * accumulated corpus with a STORED near-dup component map; the odd
    * docs arrive as a dump. The new dump's pairs (within-batch via the
    * d4 machinery, batch↔corpus via the d13 probe, identical MinHash
    * parameters) are folded into the stored map with
    * [[graft.dedup.Components.incrementalComponents]] — only touched
    * components re-enter the closure; everything else passes through.
    * The result is pinned identical to a full recompute over ALL
    * docs' pairs, which is exactly what the oracle computes. */
  def incrementalComponentsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // ONE shingle/signature/bucket/verify pass over the whole lake
    // (r13 optimization): MinHash signatures and LSH buckets are
    // per-document functions, so the three pair families the fold needs
    // — within-corpus (even↔even), within-batch (odd↔odd), and
    // batch↔corpus (mixed parity) — are parity SLICES of the unified
    // verified pair set, not three separate machinery runs. The oracle
    // mirror has always relied on exactly this identity (it computes
    // one unrestricted candidate set); the previous form ran the
    // shingle → wide-minhash → bucket → candidate-verify chain THREE
    // times over disjoint halves of the same table (73 AQE exchange
    // stages, 12.2 s warm at sf0.1 — vs 1 run + 2 filters here).
    // incrementalComponents treats pairs as undirected, so the
    // (batch_id, corpus_id) orientation of the old cross probe is
    // immaterial. Persisted: the slice filters are two consumers.
    val allPairs = graft.ops.StagePersists.track(
      Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          shingleSize = 3, numPerms = NumPerms, rowsPerBand = 4,
          threshold = 0.5)
        .select("ida", "idb"))
    val corpusPairs = allPairs
      .filter(col("ida") % 2 === 0 && col("idb") % 2 === 0)
    val newPairs = allPairs
      .filter(col("ida") % 2 === 1 || col("idb") % 2 === 1)
    val stored = graft.dedup.Components
      .adaptiveComponents(corpusPairs, "ida", "idb")
    graft.dedup.Components.incrementalComponents(stored,
        newPairs, "ida", "idb")
      .withColumnRenamed("id", "doc_id")
      .withColumn("is_canonical", col("doc_id") === col("component_id"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror: the FULL recompute the incremental path must equal.
    * MinHash signatures and LSH buckets are per-document functions, so
    * the union of (within-even, within-odd, even↔odd) candidate pairs
    * is exactly the unrestricted candidate set over all docs — the
    * mirror is d7's minhash closure at threshold 0.5, no parity split
    * needed. */
  val incrementalComponentsSql: String = {
    s"""WITH RECURSIVE $GRAMS3,
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
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
       |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5),
       |edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM mh_pairs
       |          UNION SELECT idb, ida FROM mh_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id,
       |  src = LEAST(src, MIN(dst)) AS is_canonical
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  }

  // ---- d11: quality-ranked canonical selection -------------------------

  /** Keep-best canonicalization over the d4 minhash near-dup
    * components: each component retains its HIGHEST-quality member
    * (rounded t2 quality, ties → lowest doc_id) — the policy a real
    * pipeline wants, where d7's min-id pick is only a convention. */
  def keepBestCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleSize = 3, numPerms = NumPerms, rowsPerBand = 4, threshold = 0.8)
      .select(col("ida"), col("idb"))
    val labels = graft.dedup.Components.adaptiveComponents(pairs, "ida", "idb")
    val scored = docs.select(col("doc_id").as("id"),
      TextQueries.round4(graft.text.TextAnalysis.qualityScore("text")).as("quality"))
    graft.dedup.Components.keepBest(labels, scored, "id", "component_id", "quality")
      .withColumnRenamed("id", "doc_id")
      .select("doc_id", "component_id", "quality", "keep")
      .orderBy("doc_id")
  }

  /** DuckDB mirror: the d4 pair pipeline verbatim, recursive closure to
    * min-reachable-id labels (the d7 convention), then a per-component
    * quality argmax window. */
  val keepBestCanonicalSql: String = {
    s"""WITH RECURSIVE $GRAMS3,
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
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
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
       |  FROM reach GROUP BY src),
       |q AS (SELECT doc_id, ${CorpusQueries.qualityExprSql} AS quality FROM documents),
       |scored AS (
       |  SELECT l.doc_id, l.component_id, q.quality
       |  FROM labels l JOIN q USING (doc_id)),
       |ranked AS (
       |  SELECT doc_id, component_id, quality,
       |    ROW_NUMBER() OVER (PARTITION BY component_id
       |                       ORDER BY quality DESC, doc_id) AS rn
       |  FROM scored)
       |SELECT doc_id, component_id, quality, rn = 1 AS keep
       |FROM ranked ORDER BY doc_id""".stripMargin
  }

  // ---- d8: benchmark decontamination -----------------------------------

  /** Every 10th document plays the evaluation set; corpus docs sharing
    * any distinct 5-gram with it are flagged with their overlap count
    * (eval members flag themselves — the full-output view; a real
    * pipeline then drops flagged ids via Decontamination.decontaminate). */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.dedup.Decontamination.contaminatedDocs(
        docs, docs.filter(col("doc_id") % 10 === 0), "text", "doc_id", n = 5)
      .orderBy("id")
  }

  val contaminationSql: String =
    s"""WITH g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 3, 1)),
       |    i -> $WS[i] || ' ' || $WS[i+1] || ' ' || $WS[i+2] || ' ' || $WS[i+3] || ' ' || $WS[i+4])) AS g
       |  FROM documents WHERE len($WS) >= 5),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
       |SELECT doc_id AS id, COUNT(*) AS n_overlap
       |FROM grams JOIN eval_grams USING (g)
       |GROUP BY doc_id ORDER BY id""".stripMargin

  // ---- d19: SCRIPT-AWARE decontamination --------------------------------

  /** The d8 probe on the derived multilingual corpus at the SCRIPT
    * grain ([[graft.dedup.Decontamination.contaminatedDocsScript]]):
    * eval set = every 10th document, probed with script-aware 5-gram
    * shingles (char 5-grams for CJK) — the Latin-plane probe sees ZERO
    * grams for the zh/de/es-derived documents (≈60% of this corpus),
    * so their benchmark leakage is invisible to d8's machinery;
    * DedupSpec pins that blindness, this query pins the cure. */
  def scriptDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val d2 = TextQueries.Scripts.derived(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("text2"))
    graft.dedup.Decontamination.contaminatedDocsScript(
        d2, d2.filter(col("doc_id") % 10 === 0), "text2", "doc_id", n = 5)
      .orderBy("id")
  }

  val scriptDecontaminationSql: String = {
    import TextQueries.Scripts
    s"""WITH ${Scripts.derivedSql},
       |t AS (SELECT doc_id, ${Scripts.toksSql("text2")} AS ws FROM docs2),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(ws) - 3, 1)),
       |    i -> list_aggregate(ws[i:i+4], 'string_agg', ' '))) AS g
       |  FROM t WHERE len(ws) >= 5),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
       |SELECT doc_id AS id, COUNT(*) AS n_overlap
       |FROM grams JOIN eval_grams USING (g)
       |GROUP BY doc_id ORDER BY id""".stripMargin
  }

  // ---- d18: corpus-frequent shingles (boilerplate phrase table) ---------

  /** The boilerplate phrase table: every 5-word shingle appearing in
    * at least 3 documents, with its exact document frequency —
    * [[graft.dedup.Dedup.frequentShingles]]' two-pass bucket-pruned
    * heavy hitters (the distinct-gram space never shuffles; the bucket
    * pass is a superset guarantee, so the output is exact). */
  def frequentShingles(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.frequentShingles(
        Tables.load(spark, dir, "documents"), "text", "doc_id",
        k = 5, minDf = 3L)
      .orderBy("shingle")

  val frequentShinglesSql: String =
    s"""WITH g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 3, 1)),
       |    i -> $WS[i] || ' ' || $WS[i+1] || ' ' || $WS[i+2] || ' ' || $WS[i+3] || ' ' || $WS[i+4])) AS g
       |  FROM documents WHERE len($WS) >= 5),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0)
       |SELECT g AS shingle, COUNT(*)::BIGINT AS df
       |FROM grams GROUP BY g HAVING COUNT(*) >= 3
       |ORDER BY shingle""".stripMargin

  // ---- d14: line-frequency dedup ---------------------------------------

  private val NavLine = "repeated boilerplate navigation line planted on every fourth page"

  /** Documents recut into three 60-char lines, with a shared
    * boilerplate line planted on every fourth doc — [[Dedup.lineDedup]]
    * drops every later occurrence of an exact line (the RefinedWeb/
    * CCNet repeated-line rule; first occurrence survives corpus-wide)
    * and reports the MassiveText doc-level dup_line_frac signal. */
  def lineDedupRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.select(col("doc_id"),
      concat(
        substring(col("text"), 1, 60), lit("\n"),
        substring(col("text"), 61, 60), lit("\n"),
        when(col("doc_id") % 4 === 0, lit(NavLine))
          .otherwise(substring(col("text"), 121, 60))).as("text"))
    Dedup.lineDedup(planted, "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_lines"), col("n_removed"),
        col("dup_line_frac"), col("clean_text"))
      .orderBy("doc_id")
  }

  val lineDedupRewriteSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    substr(text, 1, 60) || chr(10) || substr(text, 61, 60) || chr(10) ||
       |    CASE WHEN doc_id % 4 = 0 THEN '$NavLine'
       |         ELSE substr(text, 121, 60) END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM planted),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, lines[i] AS line
       |  FROM (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS i
       |        FROM t)),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |rm AS (SELECT doc_id, list(pos) AS rm
       |       FROM ranked WHERE rn > 1 GROUP BY doc_id)
       |SELECT t.doc_id, len(lines)::BIGINT AS n_lines,
       |  coalesce(len(rm), 0)::BIGINT AS n_removed,
       |  coalesce(len(rm), 0)::DOUBLE / len(lines)::DOUBLE AS dup_line_frac,
       |  coalesce(array_to_string(list_filter(lines, (l, i) -> NOT
       |    list_contains(coalesce(rm, CAST([] AS INTEGER[])), i - 1)),
       |    chr(10)), '') AS clean_text
       |FROM t LEFT JOIN rm USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- d15: asymmetric containment pairs --------------------------------

  /** The first 150 chars of every fifth doc republished as a new doc —
    * an excerpt/quote whose Jaccard vs its source is low (small ∩ over
    * a big ∪) but whose CONTAINMENT in the source is ≈ 1.
    * [[Dedup.containmentPairs]] flags exactly these. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val excerpts = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        substring(col("text"), 1, 150).as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(excerpts)
    Dedup.containmentPairs(Dedup.wordShingles(all, "text", "doc_id", 3),
        threshold = 0.9)
      .select(col("ida"), col("idb"), col("common"),
        col("containment_ab"), col("containment_ba"))
      .orderBy("ida", "idb")
  }

  val containmentSql: String = {
    val ws = WS
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, substr(text, 1, 150)
       |  FROM documents WHERE doc_id % 5 = 0),
       |w AS (SELECT doc_id, $ws AS ws FROM all_docs),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
       |  FROM w WHERE len(ws) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
       |keepg AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 1000),
       |f AS (SELECT doc_id, g FROM grams JOIN keepg USING (g)),
       |c AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |      FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT ida, idb, common,
       |  CAST(common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment_ab,
       |  CAST(common AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS containment_ba
       |FROM c JOIN sizes sa ON c.ida = sa.doc_id
       |       JOIN sizes sb ON c.idb = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.9
       |   OR CAST(common AS DOUBLE) / CAST(sb.sz AS DOUBLE) >= 0.9
       |ORDER BY ida, idb""".stripMargin
  }

  // ---- d16: CJK near-duplicate pairs (script-aware shingles) -----------

  /** Near-dup detection on a SPACELESS script: the zh-labeled docs
    * rendered in real CJK code points (the t26 derivation), each also
    * planted with an 80%-prefix near-duplicate (id + 100000), then
    * [[graft.text.ScriptText.shingles]] — character 7-grams, since CJK
    * tokens are single characters (long char n-grams are the CJK
    * near-dup convention) — through the UNCHANGED
    * [[Dedup.jaccardPairs]] pair machinery. Under the Latin tokenizer
    * these documents have ZERO shingles and every planted pair is
    * invisible; the script plane recovers every planted pair (plus any
    * genuine zh near-dups).
    *
    * The df cap is LOAD-BEARING here, not belt-and-braces: the derived
    * corpus writes from a 26-char alphabet, so short char n-grams are
    * low-entropy and the uncapped inverted index paid Σdf² ≈ 113M
    * candidate rows at sf0.1 (18.5s); 7-grams + cap 400 cut that ~10×
    * with all planted pairs intact — the exact stop-shingle guard a
    * real boilerplate-heavy crawl needs. */
  def cjkNearDups(spark: SparkSession, dir: String): DataFrame = {
    val zh = graft.queries.TextQueries.Scripts
      .derived(Tables.load(spark, dir, "documents"))
      .filter(col("lang") === "zh")
      .select(col("doc_id"), col("text2"))
    val planted = zh.select((col("doc_id") + 100000L).as("doc_id"),
      substr(col("text2"), lit(1),
        floor(length(col("text2")) * 0.8).cast("int")).as("text2"))
    val corpus = zh.unionByName(planted)
    Dedup.jaccardPairs(
        graft.text.ScriptText.shingles(corpus, "text2", "doc_id", 7),
        threshold = 0.6, maxDocFreq = 400)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("ida", "idb")
  }

  val cjkNearDupsSql: String = {
    val toks = graft.queries.TextQueries.Scripts.toksSql("text2")
    s"""WITH ${graft.queries.TextQueries.Scripts.derivedSql},
       |zh AS (SELECT doc_id, text2 FROM docs2 WHERE lang = 'zh'),
       |corpus AS (
       |  SELECT doc_id, text2 FROM zh
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    substr(text2, 1, CAST(FLOOR(length(text2) * 0.8) AS INT))
       |  FROM zh),
       |toks AS (SELECT doc_id, $toks AS ws FROM corpus),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 5, 1)),
       |    i -> list_aggregate(ws[i:i+6], 'string_agg', ' '))) AS g
       |  FROM toks WHERE len(ws) >= 7),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |keep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 400),
       |fg AS (SELECT doc_id, g FROM grams JOIN keep USING (g)),
       |pairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM fg a JOIN fg b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida, idb, common,
       |  ROUND(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON ida = sa.doc_id
       |JOIN sizes sb ON idb = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.6
       |ORDER BY ida, idb""".stripMargin
  }

  // ---- d20: Bloom-filter cross-dump exact dedup --------------------------

  /** Filter geometry for the gate corpus: 2¹⁶ bits / 5 probes over the
    * ~500-hash sf0.01 corpus keeps the expected false-positive rate
    * ≈ (k·n/m)⁵ ≈ 10⁻⁷ — the flag column is dominated by TRUE dups, and
    * any FP that does occur replays deterministically in the oracle
    * (positions are md5-derived). BloomSpec exercises the FP path
    * explicitly with a deliberately undersized filter. */
  private val BloomM = 1 << 16
  private val BloomK = 5

  /** The between-dumps Bloom dedup pass ([[graft.dedup.BloomDedup]]):
    * the accumulated corpus (all documents) is summarized once into an
    * m-bit filter; the incoming dump — every fifth document an exact
    * revisit of the corpus, the rest fresh (a distinct planted tail) —
    * probes k bits per document, map-side against the collected
    * bitmap. Reported per dump document: the filter's verdict, the
    * exact truth (the confirm-join a production pass would run on the
    * hit slice only), and the derived false-positive flag. */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.BloomDedup
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.select(col("doc_id"), col("text"))
    val dump = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      when(col("doc_id") % 5 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" fresh-tail-"),
          col("doc_id").cast("string"))).as("text"))
    val bm = BloomDedup.bitmap(
      BloomDedup.setBits(corpus, "text", BloomM, BloomK), BloomM)
    val truth = corpus.select(md5(col("text")).as("__h")).distinct()
      .withColumn("__dup", lit(true))
    dump.select(col("doc_id"),
        BloomDedup.probeColumn(col("text"), bm, BloomM, BloomK).as("bloom_hit"),
        md5(col("text")).as("__h"))
      .join(broadcast(truth), Seq("__h"), "left_outer")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("__dup"), lit(false)).as("true_dup"),
        (col("bloom_hit") && !coalesce(col("__dup"), lit(false)))
          .as("false_positive"))
      .orderBy("doc_id")
  }

  /** Replay of the filter in the JOIN form: set bits as a distinct-CTE,
    * the probe as a position left-join counting hits — all positions
    * from the same md5 re-hash, so Spark's collected-bitmap probe and
    * this replay agree bit for bit, false positives included. */
  val bloomDedupSql: String = {
    def pos(e: String) =
      OracleSql.md5BucketSql(s"j::VARCHAR || ':' || $e", BloomM)
    s"""WITH dump AS (
       |  SELECT d.doc_id + 1000000 AS doc_id,
       |    CASE WHEN d.doc_id % 5 = 0 THEN d.text
       |         ELSE d.text || ' fresh-tail-' || d.doc_id::VARCHAR END AS text
       |  FROM documents d),
       |bits AS (
       |  SELECT DISTINCT ${pos("md5(text)")} AS pos
       |  FROM documents, range(0, $BloomK) t(j)),
       |probe AS (
       |  SELECT doc_id, md5(text) AS h, ${pos("md5(text)")} AS pos
       |  FROM dump, range(0, $BloomK) t(j)),
       |hits AS (
       |  SELECT doc_id, h, COUNT(b.pos) AS nhit
       |  FROM probe p LEFT JOIN bits b USING (pos)
       |  GROUP BY doc_id, h),
       |truth AS (SELECT DISTINCT md5(text) AS h FROM documents)
       |SELECT doc_id, nhit = $BloomK AS bloom_hit,
       |  (t.h IS NOT NULL) AS true_dup,
       |  (nhit = $BloomK AND t.h IS NULL) AS false_positive
       |FROM hits LEFT JOIN truth t USING (h)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- d21: empirical LSH recall curve -----------------------------------

  /** The dedup twin of the s15 ANN eval — the MinHash band s-curve
    * measured IN VIVO instead of trusted from theory: exact-Jaccard
    * ground-truth pairs (inverted-index join, the d2 machinery, no
    * candidate restriction) bucketed by similarity decile, against
    * the pairs the d4 band structure actually captured. Per bucket:
    * n_truth, n_captured, integer recall ×10⁴. This is the number
    * that justifies (or indicts) the production (numPerms,
    * rowsPerBand) choice at a given dedup threshold — theory says
    * P(capture | j) = 1−(1−j⁴)⁴; the curve says what the corpus got.
    * Captured pairs verify with the same exact Jaccard, so captured ⊆
    * truth by construction and recall is a plain semi-join count.
    * 100 TB shape: the truth side is the one deliberately exhaustive
    * join in the engine — an EVAL, run on a deterministic md5 sample
    * of the corpus (the statistics need thousands of pairs, not the
    * full lake) with the d12 df cap bounding the inverted index; the
    * production dedup path never pays this. */
  def lshRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.LanguageModel.ldiv
    val base = Tables.load(spark, dir, "documents").select("doc_id", "text")
    graft.Tables.requireIdHeadroom(base, "doc_id")
    // the natural corpus only holds j >= 0.9 near-dups — a one-bucket
    // curve measures nothing. Plant a similarity GRADIENT off every
    // 10th doc: a suffix copy (j ~ 0.9), a two-thirds prefix
    // (j ~ 0.6), a half prefix (j ~ 0.45), so the falloff the curve
    // exists to show has rows in every decile
    val tenth = base.filter(col("doc_id") % 10 === 0)
    val docs = base
      .unionByName(tenth.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate crawl copy")).as("text")))
      .unionByName(tenth.select((col("doc_id") + 2000000L).as("doc_id"),
        expr("substring(text, 1, cast(length(text)*2/3 as int))").as("text")))
      .unionByName(tenth.select((col("doc_id") + 3000000L).as("doc_id"),
        expr("substring(text, 1, cast(length(text)/2 as int))").as("text")))
    val sh = Dedup.wordShingles(docs, "text", "doc_id", 3)
    // truth is consumed twice (the captured semi-join and the per-bucket
    // totals): persist, or the exhaustive inverted-index join — the
    // single most expensive stage of this eval — runs once per consumer.
    // The truth join runs on the 60-BIT MD5 gram key instead of the
    // gram string (guide §2.3, narrower types): the join/groupBy
    // shuffles 8-byte longs, and the oracle joins the identical
    // md5-derived key, so the two engines agree bit for bit BY
    // CONSTRUCTION. The hashed grams are persisted because the truth
    // machinery reads them four times (sizes, df filter, both sides).
    // Collision envelope of the 60-bit truth key (ADVICE r13): with g
    // distinct grams per document pair, P(any intra-pair collision) ≈
    // g²/2⁶¹ < 10⁻¹² even at g = 10⁶ grams — the truth set is
    // collision-approximate in principle, exact at any realistic
    // sample size; the oracle replays the identical key, so the two
    // engines agree bit for bit regardless.
    val shKeyed = graft.ops.StagePersists.track(sh.select(col("id"),
      Dedup.md5Long(col("shingle")).as("shingle")))
    val truth = graft.ops.StagePersists.track(
      Dedup.jaccardPairs(shKeyed, threshold = 0.4, maxDocFreq = 100000)
        .withColumn("bucket", floor(col("jaccard") * 10).cast("long")))
    // captured = raw LSH candidate pairs, NO Jaccard verify (r14): the
    // only consumer is the semi-join against `truth`, whose members
    // already carry exact jaccard ≥ 0.4 — for a pair in truth the
    // verify is a tautology, so truth ⋉ verified(cands) ≡ truth ⋉ cands
    // (exactly the capt CTE the oracle below has always computed). This
    // drops the candidate-expansion verify joins (the second-most
    // expensive stage of the eval); hash-oracled at all three SFs.
    val captured = Dedup.inlineLshCandidates(docs, "text", "doc_id",
      shingleSize = 3, numPerms = NumPerms, rowsPerBand = 4)
    val cap = truth.join(captured, Seq("ida", "idb"), "left_semi")
      .groupBy("bucket").agg(count(lit(1)).as("n_captured"))
    truth.groupBy("bucket").agg(count(lit(1)).as("n_truth"))
      .join(cap, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("n_truth"),
        coalesce(col("n_captured"), lit(0L)).as("n_captured"),
        ldiv(coalesce(col("n_captured"), lit(0L)) * lit(10000L),
          col("n_truth")).as("recall_e4"))
      .orderBy("bucket")
  }

  val lshRecallCurveSql: String = {
    s"""WITH lake AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    text || ' near duplicate crawl copy'
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 2000000,
       |    substr(text, 1, ((length(text) * 2) // 3)::INTEGER)
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 3000000,
       |    substr(text, 1, (length(text) // 2)::INTEGER)
       |  FROM documents WHERE doc_id % 10 = 0),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 1, 1)),
       |    i -> $WS[i] || ' ' || $WS[i+1] || ' ' || $WS[i+2])) AS g
       |  FROM lake WHERE len($WS) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |gh AS (SELECT doc_id,
       |  (${OracleSql.md5U60Sql("g")})::BIGINT AS h FROM grams),
       |tpairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM gh a JOIN gh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT ida, idb,
       |    CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) AS j
       |  FROM tpairs
       |  JOIN sizes sa ON ida = sa.doc_id
       |  JOIN sizes sb ON idb = sb.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
       |          >= 0.4),
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.id < b.id),
       |tb AS (
       |  SELECT ida, idb, CAST(FLOOR(j * 10) AS BIGINT) AS bucket
       |  FROM truth),
       |capt AS (
       |  SELECT t.bucket, COUNT(*)::BIGINT AS n_captured
       |  FROM tb t JOIN cands c ON t.ida = c.ida AND t.idb = c.idb
       |  GROUP BY t.bucket),
       |tr AS (
       |  SELECT bucket, COUNT(*)::BIGINT AS n_truth
       |  FROM tb GROUP BY bucket)
       |SELECT tr.bucket, tr.n_truth,
       |  COALESCE(capt.n_captured, 0)::BIGINT AS n_captured,
       |  ((COALESCE(capt.n_captured, 0) * 10000) // tr.n_truth)::BIGINT
       |    AS recall_e4
       |FROM tr LEFT JOIN capt USING (bucket)
       |ORDER BY tr.bucket""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d21_lsh_recall" -> (lshRecallCurve _),
    "s16_contrastive_pairs" -> (contrastiveTriples _),
    "d20_bloom_dedup" -> (bloomDedup _),
    "d16_cjk_neardups" -> (cjkNearDups _),
    "d1_exact_dup_groups" -> (exactDupGroups _),
    "d2_jaccard_pairs" -> (jaccardPairs _),
    "d3_minhash_signatures" -> (minhashSignatures _),
    "d4_minhash_pairs" -> (minhashPairs _),
    "d5_simhash_pairs" -> (simhashPairs _),
    "d6_embedding_dups" -> (embeddingDups _),
    "d7_dup_components" -> (dupComponents _),
    "d8_contamination" -> (contamination _),
    "d19_script_decontamination" -> (scriptDecontamination _),
    "d18_frequent_shingles" -> (frequentShingles _),
    "d9_dup_passages" -> (dupPassages _),
    "d10_substring_dedup" -> (substringDedup _),
    "d11_keep_best" -> (keepBestCanonical _),
    "d12_weighted_jaccard" -> (weightedJaccardPairs _),
    "d13_incremental_dedup" -> (incrementalDedup _),
    "d14_line_dedup" -> (lineDedupRewrite _),
    "d15_containment" -> (containment _),
    "d17_incremental_components" -> (incrementalComponentsQuery _),
    "s6_semantic_dedup" -> (semanticDedup _))

  // ---- s16: contrastive (anchor, positive, hard-negative) mining --------

  /** [[graft.dedup.Contrastive.minedTriples]] over the corpus plus a
    * positive plant (a near-dup copy of every 10th doc, j ≈ 0.9) and
    * a hard-negative plant (the first HALF of every 20th doc, shingle
    * Jaccard ≈ 0.5 — lands in the band s-curve's false-positive tail,
    * the almost-positive an embedding model needs): the d4 band shape
    * unchanged, verified candidates kept with their raw Jaccard, and
    * per anchor the best ≥ 0.8 candidate as positive and the best
    * candidate in [0.3, 0.6) as hard negative (sub-0.3 collisions are
    * easy negatives — no slot). ContrastiveSpec pins the class
    * boundaries and the both-classes-required emission on constructed
    * corpora. */
  def contrastiveTriples(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents").select("doc_id", "text")
    graft.Tables.requireIdHeadroom(base, "doc_id")
    val lake = base
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" near duplicate crawl copy")).as("text")))
      .unionByName(base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          expr("substring(text, 1, cast(length(text)/2 as int))").as("text")))
    graft.dedup.Contrastive.minedTriples(lake, "text", "doc_id",
        shingleSize = 3, numPerms = NumPerms, rowsPerBand = 4,
        posThr = 0.8, negThr = 0.6, negFloor = 0.3)
      .select(col("anchor_id"), col("pos_id"),
        round(col("pos_jaccard"), 6).as("pos_jaccard"),
        col("neg_id"), round(col("neg_jaccard"), 6).as("neg_jaccard"))
      .orderBy("anchor_id")
  }

  val contrastiveTriplesSql: String = {
    s"""WITH lake AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    text || ' near duplicate crawl copy'
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 2000000,
       |    substr(text, 1, (length(text) // 2)::INTEGER)
       |  FROM documents WHERE doc_id % 20 = 0),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len($WS) - 1, 1)),
       |    i -> $WS[i] || ' ' || $WS[i+1] || ' ' || $WS[i+2])) AS g
       |  FROM lake WHERE len($WS) >= 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |hashes AS (SELECT doc_id, ${h30("g")} AS h FROM grams),
       |${OracleSql.lshBandsSql("hashes", NumPerms, 4)},
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.id < b.id),
       |jpairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  JOIN cands c ON c.ida = a.doc_id AND c.idb = b.doc_id
       |  GROUP BY 1, 2),
       |jall AS (
       |  SELECT ida, idb,
       |    CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) AS j
       |  FROM jpairs
       |  JOIN sizes sa ON ida = sa.doc_id
       |  JOIN sizes sb ON idb = sb.doc_id),
       |sym AS (SELECT ida, idb, j FROM jall
       |        UNION ALL SELECT idb, ida, j FROM jall),
       |pos AS (
       |  SELECT ida AS anchor_id, idb AS pos_id, j AS pos_j FROM (
       |    SELECT ida, idb, j, ROW_NUMBER() OVER (PARTITION BY ida
       |      ORDER BY j DESC, idb) AS rk
       |    FROM sym WHERE j >= 0.8) WHERE rk = 1),
       |neg AS (
       |  SELECT ida AS anchor_id, idb AS neg_id, j AS neg_j FROM (
       |    SELECT ida, idb, j, ROW_NUMBER() OVER (PARTITION BY ida
       |      ORDER BY j DESC, idb) AS rk
       |    FROM sym WHERE j < 0.6 AND j >= 0.3) WHERE rk = 1)
       |SELECT p.anchor_id, p.pos_id, ROUND(p.pos_j, 6) AS pos_jaccard,
       |  n.neg_id, ROUND(n.neg_j, 6) AS neg_jaccard
       |FROM pos p JOIN neg n USING (anchor_id)
       |ORDER BY anchor_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "d21_lsh_recall" -> lshRecallCurveSql,
    "s16_contrastive_pairs" -> contrastiveTriplesSql,
    "d20_bloom_dedup" -> bloomDedupSql,
    "d16_cjk_neardups" -> cjkNearDupsSql,
    "d1_exact_dup_groups" -> exactDupGroupsSql,
    "d2_jaccard_pairs" -> jaccardPairsSql,
    "d3_minhash_signatures" -> minhashSignaturesSql,
    "d4_minhash_pairs" -> minhashPairsSql,
    "d5_simhash_pairs" -> simhashPairsSql,
    "d6_embedding_dups" -> embeddingDupsSql,
    "d7_dup_components" -> dupComponentsSql,
    "d8_contamination" -> contaminationSql,
    "d19_script_decontamination" -> scriptDecontaminationSql,
    "d18_frequent_shingles" -> frequentShinglesSql,
    "d9_dup_passages" -> dupPassagesSql,
    "d10_substring_dedup" -> substringDedupSql,
    "d11_keep_best" -> keepBestCanonicalSql,
    "d12_weighted_jaccard" -> weightedJaccardPairsSql,
    "d13_incremental_dedup" -> incrementalDedupSql,
    "d14_line_dedup" -> lineDedupRewriteSql,
    "d15_containment" -> containmentSql,
    "d17_incremental_components" -> incrementalComponentsSql,
    "s6_semantic_dedup" -> semanticDedupSql)
}
