package graft.queries

import graft.ops.StagePersists
import graft.Tables
import graft.sim.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-gate queries for similarity search over the embeddings
  * table (64-dim float vectors). Scores round to 4 decimals BEFORE
  * ranking in both engines, so rankings agree even when raw float sums
  * differ in the last ulp. */
object SimQueries {

  private val K = 5
  private val NQueries = 10
  private val Dim = 64
  private val NumPlanes = 8

  private val dotSql =
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
  private def normSql(t: String) =
    s"sqrt(list_dot_product($t.embedding::DOUBLE[], $t.embedding::DOUBLE[]))"

  // ---- s1: exact brute-force cosine top-k ------------------------------

  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.cosineTopK(emb, emb.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", K)
      .orderBy("query_id", "rk")
  }

  val cosineTopKSql: String =
    s"""SELECT query_id, neighbor_id, score, rk FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) DESC,
       |               b.vec_id) AS rk
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $NQueries)
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  // ---- s2: LSH bucket assignment ---------------------------------------

  def lshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val planes = Similarity.hyperplanes(NumPlanes, Dim)
    emb.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), planes).as("bucket"))
      .orderBy("vec_id")
  }

  val lshBucketsSql: String = {
    val planes = Similarity.hyperplanes(NumPlanes, Dim)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT vec_id, ($bits)::BIGINT AS bucket
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  // ---- s3: LSH-bucketed approximate top-k ------------------------------

  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.lshCosineTopK(emb, "vec_id", "embedding", K, NumPlanes, Dim)
      .filter(col("query_id") < NQueries)
      .orderBy("query_id", "rk")
  }

  val lshTopKSql: String = {
    val planes = Similarity.hyperplanes(NumPlanes, Dim)
    def bitsFor(t: String) = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product($t.embedding::DOUBLE[], $arr::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding,
       |    (${bitsFor("embeddings")})::BIGINT AS bucket
       |  FROM embeddings)
       |SELECT query_id, neighbor_id, score, rk FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) DESC,
       |               b.vec_id) AS rk
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
       |WHERE rk <= $K AND query_id < $NQueries
       |ORDER BY query_id, rk""".stripMargin
  }

  // ---- s4: centroid distances per label (embedding aggregation) --------

  /** Mean embedding per label, then each label's centroid norm — an
    * aggregation-over-vectors pattern (the building block of IVF
    * partitioning and k-means style training-data ops). Sums are
    * per-dimension exact decimals cast back to double. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val dims = (0 until Dim).map(i =>
      (sum(col("embedding").getItem(i).cast("double").cast("decimal(30,12)"))
        .cast("double") / count(lit(1))).as(s"c$i"))
    val centroids = emb.groupBy("label").agg(dims.head, dims.tail: _*)
    val normExpr = (0 until Dim).map(i => col(s"c$i") * col(s"c$i")).reduce(_ + _)
    centroids.select(col("label"), round(sqrt(normExpr), 4).as("centroid_norm"))
      .orderBy("label")
  }

  val labelCentroidsSql: String = {
    val dims = (0 until Dim).map(i =>
      s"CAST(SUM(CAST(CAST(embedding[${i + 1}] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS c$i")
      .mkString(",\n    ")
    val norm = (0 until Dim).map(i => s"c$i * c$i").mkString(" + ")
    s"""WITH centroids AS (
       |  SELECT label,
       |    $dims
       |  FROM embeddings GROUP BY label)
       |SELECT label, ROUND(sqrt($norm), 4) AS centroid_norm
       |FROM centroids ORDER BY label""".stripMargin
  }

  // ---- s5: IVF approximate top-k (scale path) --------------------------

  private val IvfNlist = 8
  private val IvfK = 10
  private val IvfNprobe = 7
  private val IvfIters = 10
  // shared with the oracle's `samp` CTE bound: the replay is
  // bit-identical only when both engines train on the same sample
  private val IvfMaxSample = 10000

  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = StagePersists.checkpoint(Tables.load(spark, dir, "embeddings"))
    // corpus = all vectors; the query_id predicate pushes into the
    // probe branch, so only NQueries vectors fan out to their lists.
    // nprobe = 7 of 8: the synthetic embeddings cluster weakly, so
    // true neighbors spread across lists — 7 probes is where
    // recall@10 vs brute force clears 0.9 under the portable sample
    // order (IvfSpec pins that bound; measured 0.80/0.87/0.95 at
    // nprobe 5/6/7 on sf0.001, 0.99 at sf0.01)
    Similarity.ivfCosineTopK(emb, "vec_id", "embedding",
        k = IvfK, nlist = IvfNlist, nprobe = IvfNprobe,
        maxSample = IvfMaxSample)
      .filter(col("query_id") < NQueries)
      .orderBy("query_id", "rk")
  }

  /** s5 hash-oracled via the c1 unroll device: the coarse quantizer is
    * a SEEDED, bounded Lloyd fit over a portably-ordered sample
    * ([[Similarity.trainCoarseCentroids]]: init = the sample's first
    * `nlist` points, exactly `IvfIters` rounds, means accumulated in
    * sample order, first-minimum argmin), so the whole fit replays as
    * chained CTEs — sample order from the 60-bit md5 key, per-round
    * assignment via ROW_NUMBER (d, c), per-dimension ordered SUMs
    * mirroring the driver's fold, empty clusters carried by
    * COALESCE. The probe/scoring tail is the s1 cosine mirror over an
    * equi-join on the assigned list. Every arithmetic step is the
    * identical IEEE sequence (explicit left-to-right 64-term sums =
    * the aggregate-HOF fold; float→double widening exact on both
    * engines). */
  val ivfTopKSql: String = {
    // d2 between a sample/corpus row alias (list column e) and a
    // centroid alias (f1..f64): explicit left-to-right chain — the
    // fold starts at 0.0, and 0.0 + t1 = t1 exactly for squares
    def d2(row: String, cen: String): String =
      (1 to Dim).map(j => s"($row.e[$j] - $cen.f$j) * ($row.e[$j] - $cen.f$j)")
        .mkString(" + ")
    val initCols = (1 to Dim).map(j => s"e[$j] AS f$j").mkString(", ")
    val rounds = (1 to IvfIters).map { r =>
      val prev = s"cents${r - 1}"
      val meanCols = (1 to Dim)
        .map(j => s"SUM(s.e[$j] ORDER BY s.rn) / COUNT(*) AS f$j")
        .mkString(", ")
      val keepCols = (1 to Dim).map(j => s"COALESCE(m.f$j, p.f$j) AS f$j")
        .mkString(", ")
      s"""asg$r AS MATERIALIZED (
         |  SELECT rn, c FROM (
         |    SELECT s.rn, k.c,
         |      row_number() OVER (PARTITION BY s.rn ORDER BY ${d2("s", "k")}, k.c) AS a
         |    FROM samp s, $prev k)
         |  WHERE a = 1),
         |cents$r AS MATERIALIZED (
         |  SELECT p.c, $keepCols
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.c, $meanCols
         |    FROM asg$r a JOIN samp s USING (rn) GROUP BY a.c) m USING (c))"""
        .stripMargin
    }.mkString(",\n")
    val fin = s"cents$IvfIters"
    s"""WITH samp AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT embedding::DOUBLE[] AS e, vec_id,
       |      row_number() OVER (ORDER BY
       |        ${OracleSql.md5LongSql("vec_id::VARCHAR")},
       |        vec_id) AS rn
       |    FROM embeddings)
       |  WHERE rn <= $IvfMaxSample),
       |cents0 AS (SELECT rn - 1 AS c, $initCols FROM samp WHERE rn <= $IvfNlist),
       |$rounds,
       |corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id AS id, c AS list_id FROM (
       |    SELECT v.vec_id, k.c,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${d2("v", "k")}, k.c) AS a
       |    FROM corpus v, $fin k)
       |  WHERE a = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, c AS list_id FROM (
       |    SELECT v.vec_id, k.c,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${d2("v", "k")}, k.c) AS a
       |    FROM corpus v, $fin k
       |    WHERE v.vec_id < $NQueries)
       |  WHERE a <= $IvfNprobe),
       |scored AS (
       |  SELECT p.query_id, a.id AS neighbor_id,
       |    ROUND(list_dot_product(q.e, v.e)
       |      / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(v.e, v.e))),
       |      4) AS score
       |  FROM probes p
       |  JOIN assigned a USING (list_id)
       |  JOIN corpus q ON q.vec_id = p.query_id
       |  JOIN corpus v ON v.vec_id = a.id
       |  WHERE p.query_id <> a.id)
       |SELECT query_id, neighbor_id, score, rk
       |FROM (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS rk
       |  FROM scored)
       |WHERE rk <= $IvfK
       |ORDER BY query_id, rk""".stripMargin
  }

  // ---- s7: domain-mixing token shares ----------------------------------

  private val MixK = 8

  /** Semantic domain mix: every embedding assigned to its nearest of
    * the 8 fixed seed centroids (the embeddings of vec_id 0..7 —
    * deterministic, data-derived, engine-portable), clusters weighed
    * by whitespace-token mass of the matching documents. The output is
    * the per-domain sampling table a data mixer consumes. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // k vectors on the driver: control-plane constant, broadcast as
    // literals inside the scoring expressions
    val cents = emb.filter(col("vec_id") < MixK)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).toSeq
    val assigned = graft.sim.DomainMix.assign(emb, cents, "vec_id", "embedding")
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.text.TextAnalysis.tokenCount("text").as("n_toks"))
    graft.sim.DomainMix.tokenShares(assigned, toks, "doc_id", "n_toks", "vec_id")
      .orderBy("cluster_id")
  }

  private val MixWs =
    OracleSql.wordsSql("text")

  val domainMixSql: String = {
    val dot = "list_dot_product(e.embedding::DOUBLE[], c.cv)"
    val enorm = "sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cnorm
       |  FROM embeddings WHERE vec_id < $MixK),
       |scored AS (
       |  SELECT e.vec_id, c.cid,
       |    ROUND($dot / ($enorm * c.cnorm), 4) AS score
       |  FROM embeddings e CROSS JOIN cents c),
       |best AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cid ASC) AS rn
       |  FROM scored),
       |toks AS (SELECT doc_id, len($MixWs)::BIGINT AS n_toks FROM documents),
       |per_cluster AS (
       |  SELECT b.cid AS cluster_id, COUNT(*)::BIGINT AS n_docs,
       |    SUM(t.n_toks)::BIGINT AS total_tokens
       |  FROM best b JOIN toks t ON b.vec_id = t.doc_id
       |  WHERE b.rn = 1 GROUP BY b.cid)
       |SELECT cluster_id, n_docs, total_tokens,
       |  FLOOR(total_tokens::DOUBLE / (SELECT SUM(total_tokens)::DOUBLE FROM per_cluster)
       |    * 10000 + 0.5) / 10000.0 AS token_share
       |FROM per_cluster ORDER BY cluster_id""".stripMargin
  }

  // ---- s8: product-quantization (PQ/ADC) approximate top-k -------------

  /** PQ top-k with the seeded data-independent codebooks (m=8 subspaces
    * × ksub=16 rows × dsub=8 dims) so the encode → ADC → rank machinery
    * is hash-oracled end to end; [[graft.sim.Similarity.trainPqCodebooks]]
    * is the trained path (recall-pinned in spec, the s5 convention). */
  private val PqM = 8
  private val PqKsub = 16
  private val PqDsub = Dim / PqM
  private def pqCbs = Similarity.pqCodebooks(PqM, PqKsub, PqDsub)

  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", K, pqCbs, NQueries)
      .orderBy("query_id", "rk")

  /** The s8 WITH-chain through the `adc` CTE — shared by the s8 final
    * select and the s9 re-rank mirror. */
  /** The shared prefix (codebook literals → per-vector scaled sub
    * distances → argmin ranking) of every PQ oracle — s8/s9 complete
    * it with whole-corpus codes, s10 with the stored-corpus split. */
  private def pqAdcCtes: String = {
    val cbs = pqCbs
    val rows = for {
      (cb, j) <- cbs.zipWithIndex
      (c, kk) <- cb.zipWithIndex
    } yield s"($j, $kk, ${c.mkString("[", ",", "]")}::DOUBLE[], " +
      s"CAST(${Similarity.pqCc(cb)(kk)} AS DOUBLE))"
    s"""WITH cb(j, k, c, cc) AS (VALUES
       |${rows.mkString(",\n")}),
       |subv AS (
       |  SELECT vec_id, CAST(t.j AS INTEGER) AS j,
       |    (embedding::DOUBLE[])[t.j * $PqDsub + 1 : t.j * $PqDsub + $PqDsub] AS s
       |  FROM embeddings, unnest(range(0, $PqM)) AS t(j)),
       |sd AS (
       |  SELECT vec_id, j, k,
       |    CAST(FLOOR((list_dot_product(s, s) - 2 * list_dot_product(s, c) + cc)
       |      * 10000 + 0.5) AS BIGINT) AS d
       |  FROM subv JOIN cb USING (j)),
       |ranked AS (
       |  SELECT vec_id, j, k, d,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d, k) AS rn
       |  FROM sd)""".stripMargin
  }

  private def pqAdcSql: String =
    s"""$pqAdcCtes,
       |codes AS (SELECT vec_id, j, k AS code FROM ranked WHERE rn = 1),
       |adc AS (
       |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
       |    CAST(SUM(q.d) AS BIGINT) AS sd
       |  FROM sd q JOIN codes c2 ON q.j = c2.j AND q.k = c2.code
       |  WHERE q.vec_id < $NQueries AND c2.vec_id <> q.vec_id
       |  GROUP BY 1, 2)""".stripMargin

  val pqTopKSql: String =
    s"""$pqAdcSql
       |SELECT query_id, neighbor_id, CAST(sd AS DOUBLE) / 10000.0 AS dist, rk
       |FROM (SELECT query_id, neighbor_id, sd,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY sd, neighbor_id) AS rk
       |      FROM adc)
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  // ---- s9: PQ shortlist + exact re-rank --------------------------------

  private val Shortlist = 50

  def pqRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqRerankTopK(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", K, Shortlist, pqCbs, NQueries)
      .orderBy("query_id", "rk")

  val pqRerankSql: String =
    s"""$pqAdcSql,
       |short AS (
       |  SELECT query_id, neighbor_id
       |  FROM (SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY sd, neighbor_id) AS srk
       |        FROM adc)
       |  WHERE srk <= $Shortlist)
       |SELECT query_id, neighbor_id, score, rk FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |    ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY s.query_id
       |      ORDER BY ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) DESC,
       |               s.neighbor_id) AS rk
       |  FROM short s
       |  JOIN embeddings a ON a.vec_id = s.query_id
       |  JOIN embeddings b ON b.vec_id = s.neighbor_id)
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  // ---- s10: incremental PQ — probe a new dump against stored codes -----

  /** The PQ index operated ACROSS dumps: the corpus state is the codes
    * of the prior dumps (vec_id % 4 != 0, encoded once and stored);
    * a new dump arrives (vec_id % 4 == 0) and is probed against the
    * stored codes via ADC — the corpus is never re-encoded
    * ([[Similarity.pqProbeStored]]; IncrementalPqSpec pins
    * incremental ≡ full-re-encode and the upsert ≡ whole-corpus
    * encode). Queries are the new dump's first [[NQueries]] vectors,
    * the s8 bounded-query convention. */
  def pqIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val stored = Similarity.pqCodesTable(
      emb.filter(pmod(col("vec_id"), lit(4)) =!= 0), "vec_id", "embedding", pqCbs)
    val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0 &&
      col("vec_id") < NQueries * 4)
    Similarity.pqProbeStored(stored, batch, "vec_id", "embedding", K, pqCbs)
      .orderBy("query_id", "rk")
  }

  val pqIncrementalSql: String =
    s"""$pqAdcCtes,
       |codes AS (SELECT vec_id, j, k AS code FROM ranked
       |          WHERE rn = 1 AND vec_id % 4 <> 0),
       |adc AS (
       |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
       |    CAST(SUM(q.d) AS BIGINT) AS sd
       |  FROM sd q JOIN codes c2 ON q.j = c2.j AND q.k = c2.code
       |  WHERE q.vec_id % 4 = 0 AND q.vec_id < ${NQueries * 4}
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, CAST(sd AS DOUBLE) / 10000.0 AS dist, rk
       |FROM (SELECT query_id, neighbor_id, sd,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY sd, neighbor_id) AS rk
       |      FROM adc)
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  // ---- s11: cluster-balanced (diversity) sampling ------------------------

  /** Diversity sampling — the semantic-cluster-balanced selection a
    * curation pipeline runs after dedup (the SemDeDup/DoReMi-adjacent
    * pass: equal per-cluster quotas instead of the corpus's natural
    * skew): assign every embedding to its nearest fixed centroid (the
    * s7 control-plane convention), then keep at most `SampleQuota` per
    * cluster by the portable md5 rank ([[graft.text.Sampling.quotaSample]]
    * — salted top-k, so one hot cluster never buffers in a task).
    * Output sizes are cluster-uniform, not frequency-proportional. */
  private val SampleQuota = 25

  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < MixK)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).toSeq
    val assigned = graft.sim.DomainMix.assign(emb, cents, "vec_id", "embedding")
    graft.text.Sampling.quotaSample(assigned.select("vec_id", "cluster_id"),
        "cluster_id", "vec_id", SampleQuota)
      .orderBy("cluster_id", "sample_rank")
  }

  val clusterBalancedSampleSql: String = {
    val dot = "list_dot_product(e.embedding::DOUBLE[], c.cv)"
    val enorm = "sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cnorm
       |  FROM embeddings WHERE vec_id < $MixK),
       |scored AS (
       |  SELECT e.vec_id, c.cid,
       |    ROUND($dot / ($enorm * c.cnorm), 4) AS score
       |  FROM embeddings e CROSS JOIN cents c),
       |best AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cid ASC) AS rn
       |  FROM scored),
       |sel AS (
       |  SELECT vec_id, cid AS cluster_id,
       |    ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |  FROM best WHERE rn = 1)
       |SELECT vec_id, cluster_id, CAST(rk AS INT) AS sample_rank
       |FROM sel WHERE rk <= $SampleQuota
       |ORDER BY cluster_id, sample_rank""".stripMargin
  }

  // ---- s12: BM25 lexical retrieval top-k ---------------------------------

  // declared immediately above the SQL val that interpolates them
  // (object-init order — the w13 gotcha)
  private[queries] val BmK = 10
  private[queries] val BmQLen = 6
  private[queries] val BmProbeMod = 50L
  private[queries] val BmProbeRem = 7L

  /** The retrieval corpus: the documents table with PLANTED
    * contamination (the t30 marker device — the synthetic corpus has a
    * ~31-term template vocabulary, so every natural term is a
    * near-stopword and idf alone cannot separate anything). Every
    * probe document (doc_id ≡ 7 mod 50) carries its own marker token
    * `mk<id>` twice; the probe's marker LEAKS into three other
    * documents of its block — the strong twin (≡ 8, marker twice) and
    * two weak leaks (≡ 9 and ≡ 23, once each) — so each eval prompt
    * has a RANKED contaminated set, not a single hit. df(marker) = 4:
    * distinctive, and the weak leaks exercise the tf saturation and
    * length normalization in the ranking. */
  private[queries] def bm25Docs(docs: DataFrame): DataFrame = {
    def mk(idc: Column, times: Int) = concat(col("text") +:
      (1 to times).flatMap(_ =>
        Seq(lit(" mk"), idc.cast("string"))): _*)
    val r = pmod(col("doc_id"), lit(BmProbeMod))
    docs.select(col("doc_id"),
      when(r === BmProbeRem, mk(col("doc_id"), 2))
        .when(r === BmProbeRem + 1L, mk(col("doc_id") - 1L, 2))
        .when(r === BmProbeRem + 2L, mk(col("doc_id") - 2L, 1))
        .when(r === BmProbeRem + 16L, mk(col("doc_id") - 16L, 1))
        .otherwise(col("text")).as("text"))
  }

  /** Query construction: each probe document's [[BmQLen]] RAREST
    * distinct corpus terms, ranked (df asc, term asc), KEEPING only
    * terms under the stop-term cap df ≤ N/4 — "the distinctive terms
    * of the eval prompt", with query-side stop-term removal (the d2
    * stop-shingle df cap's retrieval twin; production BM25 does both
    * this and the [[graft.text.Bm25.Champions]] posting truncation —
    * without the cap, a stop term pairs every query against most of
    * the corpus: the untruncated form ground past 6 min on the ×100
    * rehearsal). The full-vocabulary df agg is one linear
    * map-side-combinable pass; the ranking window runs only over
    * probe-document terms (eval-set sized) through the salted top-k.
    * Returns the distinct (query_id, term) frame. */
  /** The shared postings frame — ONE corpus explode serving query
    * construction, candidate scoring, and the w18 dense model
    * (tracked: the explode + (doc, term) agg is the operator's
    * dominant corpus pass). */
  private[queries] def bm25Postings(docs2: DataFrame): DataFrame =
    StagePersists.track(
      graft.text.Bm25.postings(docs2, "text", "doc_id"))

  private[queries] def bm25Probes(docs2: DataFrame,
      post: DataFrame): DataFrame = {
    val fullDf = StagePersists.track(
      post.groupBy("term").agg(count(lit(1)).as("__cdf")))
    val nDocs = broadcast(docs2.agg(count(lit(1)).as("__nd")))
    val probeTerms = post
      .filter(pmod(col("id"), lit(BmProbeMod)) === BmProbeRem)
      .select(col("id").as("query_id"), col("term"))
    // tracked: every broadcast of the query frame (candidate semi-join,
    // pair join, df join, the w18 dense model) would otherwise re-run
    // the full-vocabulary df aggregation
    StagePersists.track(graft.ops.Scale.saltedTopK(
        fullDf.join(broadcast(probeTerms), Seq("term"))
          .crossJoin(nDocs).filter(col("__cdf") * 4L <= col("__nd")),
        Seq(col("query_id")), Seq(col("__cdf"), col("term")),
        BmQLen, col("term"), "__qrk")
      .select("query_id", "term"))
  }

  /** Lexical retrieval over the planted corpus ([[graft.text.Bm25]]):
    * eval prompts (the probe documents) retrieve their nearest
    * training documents by their distinctive (stop-filtered) terms.
    * Top-10 per query by the integer BM25 score, self-pair excluded —
    * the result is the probe's ranked contaminated set: the strong
    * twin (marker tf = 2) and the two weak leaks, ordered by the tf
    * saturation and length normalization. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs2 = bm25Docs(Tables.load(spark, dir, "documents"))
    val post = bm25Postings(docs2)
    graft.text.Bm25.topK(docs2, bm25Probes(docs2, post), "text", "doc_id",
        BmK, Some(post))
      .orderBy("query_id", "rk")
  }

  /** The shared BM25 mirror chain (t AS … idf AS): tokenization, the
    * (doc, term) tf/dl grain, corpus totals, the probe query-term set,
    * the query-term-restricted candidates and df, and the
    * clamped-ladder idf — term for term the [[graft.text.Bm25]] spec.
    * Shared by the s12 and w18 mirrors (each appends its own scoring
    * tail: s12 excludes the self pair and ranks per query, w18 keeps
    * the self pair and argmaxes per document). */
  private[queries] val Bm25ChainSql: String = {
    val lm = graft.text.LanguageModel
    val sS = graft.text.Bm25.S
    s"""docs2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $BmProbeMod = $BmProbeRem THEN text ||
       |      ' mk' || CAST(doc_id AS VARCHAR) ||
       |      ' mk' || CAST(doc_id AS VARCHAR)
       |    WHEN doc_id % $BmProbeMod = ${BmProbeRem + 1L} THEN text ||
       |      ' mk' || CAST(doc_id - 1 AS VARCHAR) ||
       |      ' mk' || CAST(doc_id - 1 AS VARCHAR)
       |    WHEN doc_id % $BmProbeMod = ${BmProbeRem + 2L} THEN text ||
       |      ' mk' || CAST(doc_id - 2 AS VARCHAR)
       |    WHEN doc_id % $BmProbeMod = ${BmProbeRem + 16L} THEN text ||
       |      ' mk' || CAST(doc_id - 16 AS VARCHAR)
       |    ELSE text END AS text
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    ${OracleSql.asciiWordsSql("text")} AS ws
       |  FROM docs2),
       |tf AS (
       |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term
       |        FROM t)
       |  GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT COUNT(*)::BIGINT AS n,
       |    GREATEST(COALESCE(SUM(len(ws)), 0)::BIGINT
       |      // GREATEST(COUNT(*)::BIGINT, 1), 1) AS avgdl
       |  FROM t),
       |fdf AS (SELECT term, COUNT(*)::BIGINT AS cdf FROM tf GROUP BY term),
       |qt AS (
       |  SELECT query_id, term FROM (
       |    SELECT f.doc_id AS query_id, f.term,
       |      ROW_NUMBER() OVER (PARTITION BY f.doc_id
       |        ORDER BY cdf, f.term) AS qrk
       |    FROM tf f JOIN fdf USING (term) CROSS JOIN tot
       |    WHERE f.doc_id % $BmProbeMod = $BmProbeRem
       |      AND cdf * 4 <= tot.n)
       |  WHERE qrk <= $BmQLen),
       |cand AS (
       |  SELECT f.doc_id, f.term,
       |    ((f.tf * ${44L * sS * sS})
       |      // (f.tf * ${20L * sS} + ${6L * sS}
       |          + ((f.dl * $sS) // t2.avgdl) * 18)) AS sat
       |  FROM tf f CROSS JOIN tot t2
       |  WHERE term IN (SELECT term FROM qt)),
       |dfs AS (SELECT term, COUNT(*)::BIGINT AS df FROM cand GROUP BY term),
       |champ AS (
       |  SELECT doc_id, term, sat FROM (
       |    SELECT doc_id, term, sat,
       |      ROW_NUMBER() OVER (PARTITION BY term
       |        ORDER BY sat DESC, doc_id) AS crk
       |    FROM cand)
       |  WHERE crk <= ${graft.text.Bm25.Champions}),
       |idf AS (
       |  SELECT term, ((${OracleSql.eFSql("q")}) + (q * ${lm.F}) // (${OracleSql.pow2Sql("q")}) - ${17L * lm.F}) AS idf_fp
       |  FROM (SELECT term,
       |          LEAST(GREATEST(((n * 2 + 2) * ${lm.F}) // (df * 2 + 1), 1),
       |            ${lm.PScale}) AS q
       |        FROM dfs CROSS JOIN tot))""".stripMargin
  }

  /** The per-(query, doc) BM25 contribution sum over the champion
    * postings — the scoring tail shared verbatim by both mirrors up
    * to their pair filter. */
  private[queries] def bm25ScoreSql(where: String): String =
    s"""sc AS (
       |  SELECT q.query_id, c.doc_id,
       |    SUM(i.idf_fp * c.sat)::BIGINT AS score_fp
       |  FROM champ c JOIN qt q USING (term) JOIN idf i USING (term)
       |  $where
       |  GROUP BY 1, 2)""".stripMargin

  val bm25TopKSql: String =
    s"""WITH $Bm25ChainSql,
       |${bm25ScoreSql("WHERE c.doc_id <> q.query_id")}
       |SELECT query_id, doc_id, score_fp, rk FROM (
       |  SELECT query_id, doc_id, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_fp DESC, doc_id) AS rk
       |  FROM sc)
       |WHERE rk <= $BmK ORDER BY query_id, rk""".stripMargin

  // ---- s13: incremental BM25 index maintenance ---------------------------

  /** The BM25 index operated ACROSS dumps (the d13/s10 incremental
    * convention): the stored [[graft.text.Bm25.State]] covers the
    * md5-even half of the corpus, the md5-odd dump arrives and FOLDS
    * in ([[graft.text.Bm25.foldState]] — postings append, df/totals
    * sums; the corpus is never re-scanned), and the s12 probes
    * retrieve against the folded state, reporting hits INSIDE the new
    * dump. The oracle recomputes everything from the full corpus —
    * hash equality is the cross-engine incremental ≡ full proof
    * (Bm25StateSpec pins it in-engine too). */
  def bm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    val bm = graft.text.Bm25
    val docs2 = bm25Docs(Tables.load(spark, dir, "documents"))
    val hkey = pmod(
      graft.dedup.Dedup.md5Long(col("doc_id").cast("string")), lit(2L))
    // each SIDE's postings persisted (r14): the folded state's dfreq
    // derives from the sides' own postings frames, not from the folded
    // union — tracking only the union (r13) left the dfreq path
    // re-running both corpus explodes from scratch; with the sides
    // cached, the union re-derives for pennies and every surface
    // (candidates, probe df, fold df) reads one postings pass per side
    val even = docs2.filter(hkey === 0L)
    val odd = docs2.filter(hkey === 1L)
    val stored = bm.buildState(even, "text", "doc_id",
      Some(StagePersists.track(bm.postings(even, "text", "doc_id"))))
    val batch = bm.buildState(odd, "text", "doc_id",
      Some(StagePersists.track(bm.postings(odd, "text", "doc_id"))))
    val folded = bm.foldState(stored, batch)
    val probes = bm25Probes(docs2, folded.post)
    val dumpHits = bm.scoreFromState(folded, probes)
      .filter(pmod(graft.dedup.Dedup.md5Long(col("doc_id").cast("string")),
        lit(2L)) === 1L)
    graft.ops.Scale.saltedTopK(dumpHits, Seq(col("query_id")),
        Seq(col("score_fp").desc, col("doc_id")), BmK, col("doc_id"), "rk")
      .orderBy("query_id", "rk")
  }

  val bm25IncrementalSql: String =
    s"""WITH $Bm25ChainSql,
       |${bm25ScoreSql(
        "WHERE c.doc_id <> q.query_id AND " +
          s"${OracleSql.md5U60Sql("CAST(c.doc_id AS VARCHAR)")} % 2 = 1")}
       |SELECT query_id, doc_id, score_fp, rk FROM (
       |  SELECT query_id, doc_id, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_fp DESC, doc_id) AS rk
       |  FROM sc)
       |WHERE rk <= $BmK ORDER BY query_id, rk""".stripMargin

  // ---- s14: hybrid lexical + dense retrieval -----------------------------

  private[queries] val BmShortlist = 20

  /** Two-stage retrieval ([[graft.sim.HybridRetrieval]]): the s12
    * probes' BM25 champion shortlist (top-[[BmShortlist]] lexical),
    * re-ranked by embedding cosine between the probe document's vector
    * and each candidate's — the production candidate-generation +
    * dense-re-rank stack. Documents without vectors (embeddings cover
    * a corpus prefix at sf0.1) sink via the −1 sentinel but keep their
    * lexical order. */
  def hybridRerank(spark: SparkSession, dir: String): DataFrame = {
    val docs2 = bm25Docs(Tables.load(spark, dir, "documents"))
    val emb = Tables.load(spark, dir, "embeddings")
    val post = bm25Postings(docs2)
    graft.sim.HybridRetrieval.hybridTopK(docs2, bm25Probes(docs2, post),
        emb, "text", "doc_id", "vec_id", "embedding", BmShortlist, BmK,
        Some(post))
      .orderBy("query_id", "rk")
  }

  val hybridRerankSql: String =
    s"""WITH $Bm25ChainSql,
       |${bm25ScoreSql("WHERE c.doc_id <> q.query_id")},
       |short AS (
       |  SELECT query_id, doc_id, score_fp FROM (
       |    SELECT query_id, doc_id, score_fp,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY score_fp DESC, doc_id) AS srk
       |    FROM sc)
       |  WHERE srk <= $BmShortlist),
       |rr AS (
       |  SELECT s.query_id, s.doc_id, s.score_fp,
       |    CASE WHEN a.vec_id IS NOT NULL AND b.vec_id IS NOT NULL
       |      THEN ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4)
       |      ELSE -1.0 END AS rerank
       |  FROM short s
       |  LEFT JOIN embeddings a ON a.vec_id = s.query_id
       |  LEFT JOIN embeddings b ON b.vec_id = s.doc_id)
       |SELECT query_id, doc_id, score_fp, rerank, rk FROM (
       |  SELECT query_id, doc_id, score_fp, rerank,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rerank DESC, score_fp DESC, doc_id) AS rk
       |  FROM rr)
       |WHERE rk <= $BmK ORDER BY query_id, rk""".stripMargin

  // ---- s15: ANN recall@k evaluation ------------------------------------

  /** Recall@k of the s5 IVF index against the s1 exact brute force —
    * the eval a 100 TB similarity deployment runs before trusting an
    * approximate index ("measure, don't guess": nprobe/nlist tuning
    * is THIS number against the probe cost). Per query: |IVF top-k ∩
    * exact top-k| as an integer n_hit (no float recall — k is in the
    * output, the ratio is the consumer's division). Shape: the exact
    * side broadcasts NQueries vectors against the corpus (one pass,
    * no pair blowup); the intersection is a left-semi join at
    * (query, neighbor) grain — both sides' ranking conventions
    * (round-4 score, id tie-break) are the shared s1/s5 ones, so the
    * intersection is engine-identical. IvfRecallSpec pins the
    * nprobe = nlist ⇒ recall ≡ 1 law. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = StagePersists.checkpoint(Tables.load(spark, dir, "embeddings"))
    val qs = emb.filter(col("vec_id") < NQueries)
    // barriers: each side's plan carries 64-term unrolled vector
    // arithmetic; joining the two raw plans sends Catalyst's optimizer
    // super-linear (40s of planning at ANY sf vs ~2s of execution)
    val exact = StagePersists.checkpoint(
      Similarity.cosineTopK(emb, qs, "vec_id", "embedding", IvfK))
    val approx = StagePersists.checkpoint(Similarity.ivfCosineTopK(emb, "vec_id", "embedding",
        k = IvfK, nlist = IvfNlist, nprobe = IvfNprobe,
        maxSample = IvfMaxSample)
      .filter(col("query_id") < NQueries))
    val hits = exact
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    qs.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        lit(IvfK.toLong).as("k"))
      .orderBy("query_id")
  }

  /** Mirror: the s1 exact CTE at k = IvfK, the FULL s5 oracle (the
    * unrolled seeded Lloyd fit + probe tail) nested as a CTE, and the
    * (query, neighbor)-grain intersection count. */
  val annRecallSql: String =
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ROUND($dotSql / (${normSql("a")} * ${normSql("b")}), 4) DESC,
       |                 b.vec_id) AS rk
       |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < $NQueries)
       |  WHERE rk <= $IvfK),
       |approx AS MATERIALIZED (
       |""".stripMargin +
      ivfTopKSql + "\n),\n" +
      s"""hits AS (
         |  SELECT e.query_id, COUNT(*)::BIGINT AS n_hit
         |  FROM exact e JOIN approx a
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |  GROUP BY e.query_id)
         |SELECT q.vec_id AS query_id, COALESCE(h.n_hit, 0)::BIGINT AS n_hit,
         |  $IvfK::BIGINT AS k
         |FROM embeddings q LEFT JOIN hits h ON q.vec_id = h.query_id
         |WHERE q.vec_id < $NQueries
         |ORDER BY query_id""".stripMargin

  // ---- l11: the per-language epoch/sampling plan -------------------------

  /** [[graft.sim.DomainMix.epochPlan]] over documents grouped by
    * language at B = half the corpus tokens, maxEpochs = 4: the
    * handoff artifact a training run consumes — per language the
    * √-temperature target, the epoch count an under-sized language
    * repeats, the deficit the epoch cap leaves (reported, never
    * silently redistributed), and the 60-bit md5-gate threshold that
    * downsamples an over-sized language in one pass. All-integer
    * arithmetic (isqrt weights, fixed-point thresholds) so the plan
    * is bit-identical in any engine. */
  def epochPlanQuery(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.load(spark, dir, "documents")
      .select(col("lang"),
        graft.text.TextAnalysis.tokenCount("text").as("n_toks"))
    graft.sim.DomainMix.epochPlan(perDoc, "lang", "n_toks",
        budgetNum = 1L, budgetDen = 2L, maxEpochs = 4)
      .withColumnRenamed("group", "lang")
      .orderBy("lang")
  }

  /** The l11 plan derivation as a reusable CTE chain (toks → g → g2 →
    * tot → p); consumers read `p` (lang, n_docs, tokens_avail,
    * sqrt_w, target_tokens). `where` filters the training corpus —
    * w21 trains the deployed plan on the md5-even history. */
  def epochPlanChainSql(where: String): String =
    s"""toks AS (
       |  SELECT doc_id, lang, len($MixWs)::BIGINT AS n
       |  FROM documents $where),
       |g AS (
       |  SELECT lang, COUNT(*)::BIGINT AS n_docs,
       |    COALESCE(SUM(n), 0)::BIGINT AS tokens_avail
       |  FROM toks GROUP BY lang),
       |g2 AS (
       |  SELECT *, CAST(FLOOR(SQRT(tokens_avail::DOUBLE)) AS BIGINT) AS sqrt_w
       |  FROM g),
       |tot AS (SELECT SUM(tokens_avail)::BIGINT AS tt,
       |  SUM(sqrt_w)::BIGINT AS sw FROM g2),
       |p AS (
       |  SELECT g2.*,
       |    (((tt // 2) * sqrt_w) // greatest(sw, 1))::BIGINT AS target_tokens
       |  FROM g2, tot)""".stripMargin

  val epochPlanSql: String =
    s"""WITH ${epochPlanChainSql("")}
       |SELECT lang, n_docs, tokens_avail, sqrt_w, target_tokens,
       |  LEAST(CASE WHEN tokens_avail > 0
       |          THEN (target_tokens + tokens_avail - 1) // tokens_avail
       |          ELSE 0 END, 4)::BIGINT AS epochs,
       |  LEAST(target_tokens, 4 * tokens_avail)::BIGINT AS achieved_tokens,
       |  (target_tokens - LEAST(target_tokens, 4 * tokens_avail))::BIGINT AS deficit,
       |  (CASE WHEN tokens_avail > target_tokens
       |     THEN ((target_tokens * ${1L << 40}) // tokens_avail) * ${1L << 20}
       |     ELSE ${1L << 60} END)::BIGINT AS rate_thr
       |FROM p ORDER BY lang""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l11_epoch_plan" -> (epochPlanQuery _),
    "s15_ann_recall" -> (annRecall _),
    "s14_hybrid_rerank" -> (hybridRerank _),
    "s13_bm25_incremental" -> (bm25Incremental _),
    "s12_bm25_topk" -> (bm25TopK _),
    "s11_cluster_balanced" -> (clusterBalancedSample _),
    "s10_pq_incremental" -> (pqIncremental _),
    "s8_pq_topk" -> (pqTopK _),
    "s9_pq_rerank" -> (pqRerank _),
    "s1_cosine_topk" -> (cosineTopK _),
    "s2_lsh_buckets" -> (lshBuckets _),
    "s3_lsh_topk" -> (lshTopK _),
    "s4_label_centroids" -> (labelCentroids _),
    "s5_ivf_topk" -> (ivfTopK _),
    "s7_domain_mix" -> (domainMix _))

  def oracleSql: Map[String, String] = Map(
    "l11_epoch_plan" -> epochPlanSql,
    "s15_ann_recall" -> annRecallSql,
    "s14_hybrid_rerank" -> hybridRerankSql,
    "s13_bm25_incremental" -> bm25IncrementalSql,
    "s12_bm25_topk" -> bm25TopKSql,
    "s5_ivf_topk" -> ivfTopKSql,
    "s11_cluster_balanced" -> clusterBalancedSampleSql,
    "s10_pq_incremental" -> pqIncrementalSql,
    "s8_pq_topk" -> pqTopKSql,
    "s9_pq_rerank" -> pqRerankSql,
    "s1_cosine_topk" -> cosineTopKSql,
    "s2_lsh_buckets" -> lshBucketsSql,
    "s3_lsh_topk" -> lshTopKSql,
    "s4_label_centroids" -> labelCentroidsSql,
    "s7_domain_mix" -> domainMixSql)
}
