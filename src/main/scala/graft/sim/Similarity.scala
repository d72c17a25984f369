package graft.sim

import graft.ops.StagePersists
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over embedding columns (north-star mandate).
  *
  * Brute-force is the exact baseline: a blocked self-join with the
  * small query side broadcast, scoring inside codegen'd array
  * expressions. The scale path is LSH bucketing (deterministic
  * random-hyperplane signs): candidates collide on bucket keys, so the
  * join is an equi-join on a short key instead of a cross product —
  * the standard recipe when the corpus no longer fits a broadcast.
  *
  * Scores are ROUNDED to `scale` decimals before ranking, with id
  * tie-breaks, so rankings are reproducible across engines and
  * partitionings (raw float sums differ in the last ulp).
  */
object Similarity {

  /** Sequential-order double dot product of two numeric array columns —
    * the native [[graft.functions.DotProduct]] expression (codegen byte
    * loop; the HOF form below is the semantic reference it must match
    * bit-for-bit, DedupSpec pins the equivalence). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Reference HOF formulation of [[dot]] (higher-order functions
    * evaluate left-to-right — deterministic; DSL aggregate/zip_with,
    * not an expr() string: a computed Column's toString need not
    * reparse as SQL). Interpreted, ~µs per 64-dim pair — kept only to
    * pin the native expression's arithmetic. */
  private[graft] def dotReference(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def round4(c: Column, scale: Int): Column =
    round(c, scale)

  /** Exact top-k cosine neighbors for each query vector. `queries`
    * side is broadcast (it is the small side by contract). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, scale: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round4(cosine(col("qv"), col("cv")), scale).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "score", "rk")
  }

  /** Embedding-cosine near-duplicate pairs (dedup suite): banded
    * sign-LSH candidates verified with the exact cosine. Each of
    * `bands` bands buckets on `planesPerBand` hyperplane signs
    * (independent seeds); pairs colliding in ANY band verify with the
    * exact rounded cosine ≥ `threshold`. The candidate join is an
    * equi-join on (band, key) — never a cross product — and the
    * verify join rejoins vectors by id, so the shuffles carry ids +
    * short keys. Missed-band pairs are missed deterministically (the
    * planes are fixed), which keeps the operator reproducible.
    *
    * Sizing at corpus scale: each band has at most 2^planesPerBand
    * buckets, and the candidate join grows as Σ(bucket²). The defaults
    * (4×8 signs) suit ~10⁶-10⁷ vectors; at 10⁸-10⁹ raise planesPerBand
    * to 12-16 AND bands to keep recall (P[band match] ≈
    * (1 − θ/π)^planes — more planes per band means more bands for the
    * same recall; sign buckets also skew with the data, which AQE's
    * skew-join split absorbs). For top-k search at that scale prefer
    * [[ivfCosineTopK]], whose list count is set directly. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 4, planesPerBand: Int = 8,
      dim: Int = 64, scale: Int = 4): DataFrame = {
    // All band keys in ONE pass over the corpus (explode), then
    // materialize: the banded frame is self-joined, and without the
    // checkpoint both join sides recompute every plane dot product.
    // It holds 3 longs × bands per vector — negligible next to the
    // vectors themselves, so it persists even at corpus scale.
    val bandKeys = (0 until bands).map { b =>
      val planes = hyperplanes(planesPerBand, dim, seed = 42L + b)
      struct(lit(b).as("band"), lshBucket(col(s"`$vecCol`"), planes).as("key"))
    }
    val banded = StagePersists.checkpoint(df
      .select(col(idCol).as("id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
    // Norms once per VECTOR, not per pair: the verify join then
    // evaluates one dot product per candidate instead of three.
    // sqrt-then-multiply keeps the arithmetic bit-identical to
    // cosine() (x / (sqrt(p) * sqrt(q))).
    val vn = df.select(col(idCol).as("id"), col(s"`$vecCol`").as("v"),
      sqrt(dot(col(s"`$vecCol`"), col(s"`$vecCol`"))).as("nrm"))
    cands
      .join(vn.select(col("id").as("ida"), col("v").as("va"), col("nrm").as("na")), "ida")
      .join(vn.select(col("id").as("idb"), col("v").as("vb"), col("nrm").as("nb")), "idb")
      .select(col("ida"), col("idb"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), scale).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Deterministic random hyperplanes: `numPlanes` × `dim` weights in
    * [-1, 1) from a fixed-seed generator. Returned as plain Scala so
    * the oracle SQL can embed identical literals. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(math.rint((rng.nextDouble() * 2 - 1) * 1000) / 1000))
  }

  /** Sign-bucket id: bit p set when v · plane_p > 0. */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeArr = array(p.map(lit): _*)
      val d = graft.functions.DotProduct(vecCol, planeArr)
      when(d > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Deterministic driver-side Lloyd's k-means for the IVF coarse
    * quantizer: init = first `nlist` input points, fixed `iters`. The
    * training sample is the collected control plane (bounded by
    * `maxSample`); centroid count is tiny so they broadcast as
    * literals. */
  def trainCoarseCentroids(points: Seq[Array[Double]], nlist: Int,
      iters: Int = 10): Seq[Array[Double]] = {
    require(points.size >= nlist, s"need >= $nlist training points")
    val dim = points.head.length
    var centroids = points.take(nlist).map(_.clone()).toIndexedSeq
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    (1 to iters).foreach { _ =>
      val assign = points.map(p => (0 until nlist).minBy(i => d2(p, centroids(i))))
      centroids = (0 until nlist).map { i =>
        val members = points.zip(assign).collect { case (p, a) if a == i => p }
        if (members.isEmpty) centroids(i)
        else {
          val acc = new Array[Double](dim)
          members.foreach(p => acc.indices.foreach(j => acc(j) += p(j)))
          acc.map(_ / members.size)
        }
      }
    }
    centroids
  }

  /** (d2, list_id) struct per centroid, computed against ONE nested-array
    * literal (`typedLit(centroids)`) instead of nlist separate literal
    * expression trees. A single constant ArrayData reference keeps the
    * generated code O(1) in nlist — the per-centroid-literal form was
    * measured compiling for ~12s at nlist=8 (BENCH_r02 s5) and would be
    * megabytes of Java source at nlist=1024. */
  private def centroidDistances(vecCol: Column, centroids: Seq[Seq[Double]]): Column =
    transform(typedLit(centroids), (c, i) =>
      struct(
        aggregate(
          zip_with(vecCol, c, (x, y) =>
            (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
          lit(0.0), (acc, v) => acc + v).as("d2"),
        i.as("list_id")))

  /** Nearest-centroid list id as a Column (argmin = array_min over
    * (d2, list_id) structs; ties break to the lowest index). */
  def listIdExpr(vecCol: Column, centroids: Seq[Seq[Double]]): Column =
    array_min(centroidDistances(vecCol, centroids)).getField("list_id")

  /** IVF approximate top-k (the scale path past LSH): a coarse
    * quantizer partitions the corpus into `nlist` inverted lists; each
    * query probes only its `nprobe` nearest lists, so the candidate
    * join is an equi-join on list_id over ~nprobe/nlist of the corpus.
    * `nprobe = nlist` degenerates to exact brute force (spec-checked).
    * Training is driver-side over a bounded sample; assignment and
    * scoring are codegen'd map-side expressions. */
  def ivfCosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int, maxSample: Int = 10000,
      scale: Int = 4): DataFrame = {
    // Deterministic pseudo-random sample: order by a hash of the id and
    // take the first maxSample. Spark plans orderBy+limit as
    // TakeOrderedAndProject (per-partition top-k, driver merge) — no full
    // sort shuffle — and unlike limit() it is not first-k-rows biased.
    // The id is a secondary sort key so hash ties at the maxSample
    // boundary cut deterministically regardless of partition order.
    // PORTABLE hash (60-bit md5 prefix of the decimal id — the engine's
    // sampling-key convention), not xxhash64: the sample ORDER seeds the
    // Lloyd fit (init = first nlist points, means accumulate in sample
    // order), and with a portable key the s5 oracle replays the whole
    // quantizer as chained CTEs (the c1 unroll device).
    val sample = corpus
      .select(col(vecCol),
        graft.dedup.Dedup.md5Long(col(idCol).cast("string")).as("__h"),
        col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id")).limit(maxSample).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val centroids = trainCoarseCentroids(sample, nlist).map(_.toSeq)
    val listId = listIdExpr(col("v"), centroids)
    val assigned = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id", listId)
    // query side: rank centroids ONCE per query, then explode just the
    // nprobe nearest list ids
    val probes = corpus.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe_lists",
        slice(rankToCentroidExpr(col("qv"), centroids), 1, nprobe))
      .select(col("query_id"), col("qv"),
        explode(col("probe_lists")).as("list_id"))
    val scored = probes.join(assigned, Seq("list_id"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), scale).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "score", "rk")
  }

  // ---- Product quantization (PQ / ADC) ----------------------------------

  /** Data-independent seeded PQ codebooks (the s2-hyperplane
    * convention: rint'd to 3 decimals so both engines parse identical
    * literals, embeddable in a static oracle). Production pipelines
    * train instead — [[trainPqCodebooks]] — but training depends on
    * the data, which a static SQL mirror cannot see; the seeded form
    * exercises the identical encode/ADC/rank machinery. */
  def pqCodebooks(m: Int, ksub: Int, dsub: Int, seed: Long = 7L): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(m) { j =>
      val rng = new scala.util.Random(seed + j)
      Seq.fill(ksub)(Seq.fill(dsub)(math.rint((rng.nextDouble() * 2 - 1) * 1000) / 1000))
    }

  /** Trained codebooks: per-subspace deterministic Lloyd over a bounded
    * driver-side sample (the IVF coarse-quantizer convention). */
  def trainPqCodebooks(points: Seq[Array[Double]], m: Int, ksub: Int,
      iters: Int = 10): Seq[Seq[Seq[Double]]] = {
    require(points.nonEmpty && points.head.length % m == 0,
      "vector dim must divide into m subspaces")
    val dsub = points.head.length / m
    Seq.tabulate(m) { j =>
      trainCoarseCentroids(points.map(_.slice(j * dsub, (j + 1) * dsub)),
        ksub, iters).map(_.toSeq)
    }
  }

  /** ||c||² per codebook row, exact left-to-right sums — computed once
    * here and embedded as the SAME literal in the SQL mirror. */
  private[graft] def pqCc(cb: Seq[Seq[Double]]): Seq[Double] =
    cb.map(_.foldLeft(0.0)((a, x) => a + x * x))

  /** ×10⁴ fixed-point quantization distances of subspace `j` against
    * every codebook row, as (d, k) structs: d = ⌊(||s||² − 2 s·c +
    * ||c||²)·10⁴ + 0.5⌋ as a LONG. Fixed-point so the ADC SUM is an
    * integer — bit-exact under any accumulation order in any engine —
    * and the expanded form so both engines compute the identical
    * dot-product sequence ([[dot]] ↔ list_dot_product). */
  private def pqSubDists(vecCol: Column, j: Int, dsub: Int,
      cb: Seq[Seq[Double]]): Column = {
    val sub = slice(vecCol, j * dsub + 1, dsub)
    val ss = dot(sub, sub)
    val ccv = pqCc(cb).toIndexedSeq
    transform(typedLit(cb.map(_.toIndexedSeq).toIndexedSeq), (c, kk) =>
      struct(
        floor((ss - lit(2.0) * dot(sub, c) + element_at(typedLit(ccv), kk + 1))
          * 10000 + lit(0.5)).as("d"),
        kk.as("k")))
  }

  /** PQ codes: m sub-centroid indices per vector (argmin of the scaled
    * distance, ties to the lowest index — `array_min` on (d, k)).
    * The 100 TB shape: the corpus stores m bytes-ish per vector
    * instead of 4·dim, entirely map-side. */
  def pqCodes(vecCol: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.size
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      array_min(pqSubDists(vecCol, j, dsub, cb)).getField("k")
    }: _*)
  }

  /** Query lookup table: the m·ksub scaled distances flattened
    * j-major — ADC reads table[j·ksub + code_j]. */
  private def pqTable(vecCol: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.size
    flatten(array(codebooks.zipWithIndex.map { case (cb, j) =>
      transform(pqSubDists(vecCol, j, dsub, cb), s => s.getField("d"))
    }: _*))
  }

  /** PQ/ADC approximate top-k (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): corpus encoded to m codes
    * map-side; each query broadcasts its m·ksub lookup table; the
    * asymmetric distance is an integer sum of m table cells. Candidate
    * generation is the broadcast of the (tiny by contract) query side —
    * the compressed-domain scan that makes billion-vector ANN feasible
    * where raw-vector cosine cannot hold the corpus. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      codebooks: Seq[Seq[Seq[Double]]], numQueries: Long): DataFrame = {
    val ksub = codebooks.head.size
    val coded = corpus.select(col(idCol).as("neighbor_id"),
      pqCodes(col(vecCol), codebooks).as("__codes"))
    val queries = corpus.filter(col(idCol) < numQueries)
      .select(col(idCol).as("query_id"), pqTable(col(vecCol), codebooks).as("__qt"))
    val scaled = aggregate(
      transform(col("__codes"),
        (c, j) => element_at(col("__qt"), j * ksub + c + 1)),
      lit(0L), (a, x) => a + x)
    val w = Window.partitionBy("query_id").orderBy(asc("__sd"), asc("neighbor_id"))
    coded.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__sd", scaled)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("__sd").cast("double") / 10000.0).as("dist"), col("rk"))
  }

  // ---- incremental corpus-side PQ state (the d13 pattern for ANN) ------

  /** The maintained corpus state of a PQ index: one (id, codes) row
    * per vector — what an embedding pipeline persists across dumps
    * (m small ints per vector instead of 4·dim floats). Pure map-side
    * encode. */
  def pqCodesTable(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      pqCodes(col(vecCol), codebooks).as("codes"))

  /** Incremental index maintenance across dumps: encode ONLY the new
    * batch and append to the stored codes — the existing corpus is
    * NEVER re-read or re-encoded (the [[graft.dedup.Dedup]] d13
    * incremental-dedup pattern applied to the PQ index). Ids must be
    * disjoint from the stored state (new dump vs corpus — the same
    * contract as d13); codebooks are frozen with the index, the
    * standard PQ deployment (retraining codebooks means rebuilding the
    * index). */
  def pqCodesUpsert(stored: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    stored.unionByName(pqCodesTable(batch, idCol, vecCol, codebooks))

  /** Probe a new batch against the STORED corpus codes via ADC: each
    * new vector broadcasts its m·ksub lookup table and scans the code
    * table — the corpus pays ZERO encode work per incoming dump, the
    * probe is a broadcast join against m-int rows, and the arithmetic
    * is the identical integer ADC of [[pqTopK]] (so incremental ≡
    * re-encoded, which IncrementalPqSpec pins and the s10 oracle
    * certifies cross-engine). */
  def pqProbeStored(storedCodes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val ksub = codebooks.head.size
    val qt = broadcast(queries.select(col(idCol).as("query_id"),
      pqTable(col(vecCol), codebooks).as("__qt")))
    val scaled = aggregate(
      transform(col("codes"),
        (c, j) => element_at(col("__qt"), j * ksub + c + 1)),
      lit(0L), (a, x) => a + x)
    val w = Window.partitionBy("query_id").orderBy(asc("__sd"), asc("neighbor_id"))
    storedCodes.select(col("id").as("neighbor_id"), col("codes"))
      .crossJoin(qt)
      .withColumn("__sd", scaled)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("__sd").cast("double") / 10000.0).as("dist"), col("rk"))
  }

  /** Two-stage ANN: PQ/ADC shortlist, exact cosine re-rank — the
    * production serving pattern. The integer ADC scan bounds the
    * candidate set to `shortlist` rows per query, then the exact metric
    * corrects the quantization error on only those. Scale shapes: the
    * shortlist inherits [[pqTopK]]'s broadcast-ADC scan; the vector
    * fetch is a corpus-keyed equi-join (full vectors travel only for
    * shortlisted ids); the re-rank window partitions per query. */
  def pqRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlist: Int, codebooks: Seq[Seq[Seq[Double]]],
      numQueries: Long, scale: Int = 4): DataFrame = {
    require(shortlist >= k, "shortlist must cover the final k")
    // the shortlist is numQueries·shortlist rows — broadcast it so the
    // vector fetch streams the corpus instead of shuffling every vector
    // into a 500-row join (measured 19.5s → ~9s at sf1)
    val short = broadcast(
      pqTopK(corpus, idCol, vecCol, shortlist, codebooks, numQueries)
        .select(col("query_id"), col("neighbor_id")))
    val qv = broadcast(corpus.filter(col(idCol) < numQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = cv.join(short, "neighbor_id").join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round4(cosine(col("__qv"), col("__cv")), scale).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "score", "rk")
  }

  /** Centroid indices sorted by ascending distance to the vector —
    * probe order for IVF. Same single-literal form as [[listIdExpr]]. */
  private def rankToCentroidExpr(vecCol: Column, centroids: Seq[Seq[Double]]): Column =
    transform(array_sort(centroidDistances(vecCol, centroids)),
      s => s.getField("list_id"))

  /** Approximate top-k: candidates restricted to the same LSH bucket.
    * Equi-join on bucket — no cross product; recall trades off with
    * `numPlanes` (more planes → smaller buckets). */
  def lshCosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, numPlanes: Int, dim: Int, scale: Int = 4): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val bucketed = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("query_id"), col("v").as("qv"))
    val b = bucketed.select(col("bucket"), col("id").as("neighbor_id"), col("v").as("cv"))
    val scored = a.join(b, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round4(cosine(col("qv"), col("cv")), scale).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "score", "rk")
  }
}
