package graft.cluster

import org.apache.spark.sql.Row

/** Two-stage clustering with pluggable name embeddings (SURVEY.md §2.9
  * M5/M6; reference: utils/two_stage_clustering.py:73-235 — stage 1
  * clusters TABLE names by sentence-transformer cosine DBSCAN, stage 2
  * clusters columns per table-group).
  *
  * The model boundary is the [[NameEmbedder]] trait: the reference
  * downloads sentence-transformers; the engine must stay deterministic
  * and network-free (SURVEY.md §7.3), so the default embedder hashes
  * character 3-grams into a fixed-dimension L2-normalized vector —
  * cosine over it behaves like a lexical similarity. A real model
  * plugs in without touching the pipeline.
  *
  * Both stages are driver-side by design: stage 1 over #tables points,
  * stage 2 over #columns points (collected profiles are the
  * broadcast-sized control plane at any lake scale).
  */
trait NameEmbedder extends Serializable {
  def embed(name: String): Array[Double]
}

/** Deterministic char-3-gram hashing embedder. */
final class CharNgramEmbedder(dim: Int = 64) extends NameEmbedder {
  def embed(name: String): Array[Double] = {
    val v = new Array[Double](dim)
    val s = s"^^${name.toLowerCase}$$"
    (0 to s.length - 3).foreach { i =>
      val g = s.substring(i, i + 3)
      v(math.floorMod(g.hashCode, dim)) += 1.0
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    if (norm == 0) v else v.map(_ / norm)
  }
}

object TwoStage {

  /** Stage 1: cosine-DBSCAN table groups; DBSCAN noise becomes a
    * singleton group per table (reference: two_stage_clustering.py
    * noise→singletons). Returns table → group id. */
  def tableGroups(tables: Seq[String], embedder: NameEmbedder,
      eps: Double = 0.4, minPts: Int = 1): Map[String, Int] = {
    val pts = tables.sorted.map(t => t -> embedder.embed(t))
    // `eps` is a COSINE distance; Clustering.dbscan is euclidean — on
    // L2-normalized vectors euclid² = 2·(1 − cos), so convert:
    val euclidEps = math.sqrt(2 * eps)
    val assign = Clustering.dbscan(pts, eps = euclidEps, minPts = minPts)
    var next = assign.values.foldLeft(-1)(math.max) // max real cluster id
    assign.toSeq.sortBy(_._1).map { case (t, c) =>
      if (c >= 0) t -> c
      else { next += 1; t -> next } // noise → fresh singleton
    }.toMap
  }

  /** Full two-stage pipeline over collected profile rows: (column_id,
    * table_group, cluster_id) by column_id, where cluster ids are
    * per-group DBSCAN results made globally unique (noise stays -1). */
  def cluster(rows: Seq[Row], embedder: NameEmbedder = new CharNgramEmbedder(),
      tableEps: Double = 0.4, columnEps: Double = 0.5, minPts: Int = 1,
      features: Seq[String] = Clustering.defaultFeatures): Seq[(String, Int, Int)] = {
    val tables = rows.map(_.getAs[String]("table")).distinct
    val groups = tableGroups(tables, embedder, tableEps, minPts)
    Clustering.vectorize(rows, features)
      .groupBy { case (id, _) => groups(id.split("::")(0)) }
      .toSeq.flatMap { case (g, members) =>
        Clustering.dbscan(members, columnEps, minPts).map { case (id, c) =>
          (id, g, if (c >= 0) g * 1000 + c else -1)
        }
      }.sortBy(_._1)
  }
}
