package graft.pipeline

import graft.cluster.Clustering
import graft.profile.Profiler
import graft.rules._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The reference's multi-table mode end to end (SURVEY.md §3.2;
  * reference: main.py --mode multi — profile every table, cluster
  * columns across tables, derive the rules shared by each cluster,
  * evaluate every member column, collect violations).
  *
  * Spark shape: one profile query over all training tables (one
  * histogram shuffle, one fold); the cluster/rule derivation runs on
  * the collected control plane (#columns rows); the violation scan
  * compiles ALL of a table's scalar rules into one predicate bundle
  * (one scan) and checks ALL its unique rules with one duplicate-key
  * aggregation and one semi-join. The job count depends on which rule
  * kinds are bound, never on how many rules or columns there are.
  */
object MultiTablePipeline {

  final case class BoundRule(table: String, rule: RuleSpec, clusterId: Int)

  /** Rules shared by a cluster, over the collected profile rows and a
    * `table::column → cluster id` assignment: generated from each
    * member profile, kept when every member's profile would generate a
    * structurally equal rule kind for its own column (the reference's
    * shared-rule containment, rules/evaluation.py:266-300), then
    * re-bound to every member column. Range/length params widen to the
    * cluster's hull so the shared rule is valid for all members. */
  def sharedClusterRulesLocal(rows: Seq[Row],
      assign: Map[String, Int]): Seq[BoundRule] = {
    val withCid = rows.flatMap(r => assign.get(Clustering.columnId(r)).map(cid => (cid, r)))
    withCid.groupBy(_._1).toSeq.flatMap { case (cid, tagged) =>
      val members = tagged.map(_._2)
      if (cid < 0 || members.length < 2) Nil // noise / singleton clusters
      else {
        val perMember = members.map { m =>
          (m.getAs[String]("table"), m.getAs[String]("column"),
            RuleGenerator.fromProfileRow(m))
        }
        // rule kinds every member generated for its own column
        val kindsPerMember = perMember.map(_._3.map(_.getClass.getName).toSet)
        val sharedKinds = kindsPerMember.reduce(_ intersect _)
        sharedKinds.toSeq.sorted.flatMap { kind =>
          val instances = perMember.map { case (t, c, rules) =>
            (t, c, rules.find(_.getClass.getName == kind).get)
          }
          // widen parametric rules to the cluster hull
          val hull: RuleSpec = instances.map(_._3).reduce[RuleSpec] {
            case (RangeRule(c, lo1, hi1, s), RangeRule(_, lo2, hi2, _)) =>
              RangeRule(c, math.min(lo1, lo2), math.max(hi1, hi2), s)
            case (LengthRule(c, lo1, hi1, s), LengthRule(_, lo2, hi2, _)) =>
              LengthRule(c, math.min(lo1, lo2), math.max(hi1, hi2), s)
            case (a, _) => a
          }
          instances.map { case (t, c, _) =>
            val bound = hull match {
              case r: RangeRule => r.copy(column = c)
              case r: LengthRule => r.copy(column = c)
              case r: NotNullRule => r.copy(column = c)
              case r: UniqueRule => r.copy(column = c)
              case r: RegexRule => r.copy(column = c)
              case r: DecimalPrecisionRule => r.copy(column = c)
              case r: SingleValueRule => r.copy(column = c)
              case r => r
            }
            BoundRule(t, bound, cid)
          }
        }
      }
    }
  }

  /** Full pipeline over a lake of tables: returns the union of
    * violations (table, column, row_id, value, rule, severity).
    *
    * `trainTables` optionally supplies the CLEAN training side
    * (reference: rules/train_clean_rules.py — rules derive from clean
    * profiles, detection runs on the dirty tables); by default rules
    * train on the scanned tables themselves. */
  def run(spark: SparkSession, tables: Map[String, DataFrame],
      keyCols: Map[String, String], eps: Double = 0.5, minPts: Int = 2,
      features: Set[String] = Set("quartiles", "mode", "pattern"),
      trainTables: Map[String, DataFrame] = Map.empty): DataFrame = {
    val trainSide = if (trainTables.nonEmpty) trainTables else tables
    // sketch statistics: rule generation reads quartiles only as IQR
    // band endpoints — percentile_approx is the at-scale choice and
    // deterministic for a fixed input.
    // The profile columns read are derived from the two consumers' own
    // declarations (vectorize's feature list + RuleGenerator's consumed
    // columns), so a field added to either cannot silently outrun this
    // pruning
    val consumed = ("table" +: RuleGenerator.consumedProfileColumns) ++
      Clustering.defaultFeatures.filterNot(
        RuleGenerator.consumedProfileColumns.contains)
    // One collect; everything between the profile and the violation
    // scans — minmax scaling, DBSCAN, shared-rule derivation — is
    // control-plane (one datum per column) and runs on the driver.
    val profRows = Profiler.profileManyRows(trainSide.toSeq.sortBy(_._1),
        graft.profile.ProfilerConfig(exact = false, features = features),
        columns = consumed)
    val assign = Clustering.dbscan(Clustering.vectorize(profRows), eps, minPts)
    val bound = sharedClusterRulesLocal(profRows, assign)
    val scans = bound.groupBy(_.table).toSeq.sortBy(_._1).map { case (t, brs) =>
      ViolationScanner.scan(tables(t), t, brs.map(_.rule).distinct,
        keyCols(t))
    }
    if (scans.isEmpty)
      spark.emptyDataFrame
    else scans.reduce(_.unionByName(_))
  }
}
