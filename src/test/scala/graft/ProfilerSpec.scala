package graft

import graft.profile.{Profiler, ProfilerConfig}
import org.apache.spark.sql.Row

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  // hand-computed mini table
  private lazy val mini = Seq(
    ("a1", "New York", "12.5", ""),
    ("a2", "Boston", "7.25", "x"),
    ("a3", null, "12.5", "y"),
    ("a4", "New York", "oops", "z")
  ).toDF("id", "city", "amount", "misc")

  private lazy val prof = Profiler.profile(mini, "mini").collect()
    .map(r => r.getAs[String]("column") -> r).toMap

  test("row and null counts") {
    assert(prof("id").getAs[Long]("row_count") == 4)
    assert(prof("id").getAs[Long]("null_count") == 0)
    assert(prof("city").getAs[Long]("null_count") == 1)
    assert(prof("misc").getAs[Long]("null_count") == 1) // "" is missing
    assert(prof("city").getAs[Double]("null_ratio") == 0.25)
  }

  test("distinct and unique ratio") {
    assert(prof("id").getAs[Long]("distinct_count") == 4)
    assert(prof("city").getAs[Long]("distinct_count") == 2)
    assert(prof("amount").getAs[Long]("distinct_count") == 3)
    assert(prof("id").getAs[Double]("unique_ratio") == 1.0)
  }

  test("numeric stats ignore unparseable cells") {
    val a = prof("amount")
    assert(a.getAs[Long]("num_count") == 3)
    assert(a.getAs[Double]("num_min") == 7.25)
    assert(a.getAs[Double]("num_max") == 12.5)
    assert(math.abs(a.getAs[Double]("num_mean") - (12.5 + 7.25 + 12.5) / 3) < 1e-9)
    assert(a.getAs[Double]("num_median") == 12.5)
  }

  test("numeric stats admit int64-magnitude values (epoch nanos)") {
    // a (24,6) decimal cast of the mean input throws under ANSI for
    // any value >= 10^18; raw nanosecond timestamps are exactly that
    val ns = Seq(1700000000000000000L, 1700000000000000002L).toDF("ns")
    val p = Profiler.profile(ns, "t")
      .filter($"column" === "ns").collect().head
    assert(p.getAs[Long]("num_count") == 2)
    assert(math.abs(p.getAs[Double]("num_mean") - 1.7000000000000000e18) < 16)
  }

  test("lengths") {
    val c = prof("city")
    assert(c.getAs[Long]("min_len") == 6)
    assert(c.getAs[Long]("max_len") == 8)
    assert(math.abs(c.getAs[Double]("avg_len") - (8 + 6 + 8) / 3.0) < 1e-9)
  }

  test("char census") {
    val id = prof("id")
    // a1 a2 a3 a4: 4 alpha chars, 4 digits
    assert(id.getAs[Long]("alpha_chars") == 4)
    assert(id.getAs[Long]("digit_chars") == 4)
    assert(id.getAs[Long]("punct_chars") == 0)
    assert(id.getAs[Long]("space_chars") == 0)
  }

  test("dominant pattern") {
    assert(prof("id").getAs[String]("dominant_pattern") == "A9")
    assert(prof("city").getAs[String]("dominant_pattern") == "AAA AAAA") // New York ×2
  }

  test("mode") {
    assert(prof("city").getAs[String]("mode_value") == "New York")
    assert(math.abs(prof("city").getAs[Double]("mode_ratio") - 2.0 / 3.0) < 1e-9)
  }

  test("type inference") {
    assert(prof("amount").getAs[String]("inferred_type") == "float")
    assert(prof("city").getAs[String]("inferred_type") == "string")
  }

  test("all-null column profiles as empty") {
    val df = Seq(("x", null: String), ("y", null: String)).toDF("k", "dead")
    val p = Profiler.profile(df, "t").collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(p("dead").getAs[String]("inferred_type") == "empty")
    assert(p("dead").getAs[Long]("distinct_count") == 0)
    assert(p("dead").getAs[String]("dominant_pattern") == "")
  }

  test("dataset profile rollup") {
    val dp = Profiler.datasetProfile(Profiler.profile(mini, "mini"))
      .collect().head
    assert(dp.getAs[Long]("n_columns") == 4)
    assert(dp.getAs[Long]("n_rows") == 4)
  }

  test("approx config still yields sane results") {
    val p = Profiler.profile(mini, "mini", ProfilerConfig(exact = false))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(p("amount").getAs[Long]("distinct_count") == 3L)
    assert(p("amount").getAs[Double]("num_median") == 12.5)
  }

  // ---- incremental (mergeable) profiling --------------------------------

  private lazy val incCfg =
    ProfilerConfig(features = Profiler.AllFeatures - "quartiles")

  test("merged increment states reproduce the direct profile exactly") {
    // deliberate overlap across slices: duplicate values, nulls and
    // empties split over increments so the merge has real work to do
    val a = Seq(("a1", "New York", "12.5"), ("a2", "", "7.25")).toDF("id", "city", "amount")
    val b = Seq(("a3", null: String, "12.5")).toDF("id", "city", "amount")
    val c = Seq(("a4", "New York", "oops"), ("a5", "Boston", "12.5")).toDF("id", "city", "amount")
    val merged = Profiler.mergeStates(Seq(
      Profiler.incrementState(Seq("t" -> a)),
      Profiler.incrementState(Seq("t" -> b)),
      Profiler.incrementState(Seq("t" -> c))))
    val fromState = Profiler.profileFromState(merged, incCfg)
      .orderBy("column").collect()
    val direct = Profiler.profile(a.union(b).union(c), "t", incCfg)
      .orderBy("column").collect()
    assert(fromState.toSeq == direct.toSeq)
  }

  test("state merge is order-insensitive") {
    val a = Seq(("a1", "x"), ("a2", "y")).toDF("id", "v")
    val b = Seq(("a3", "x")).toDF("id", "v")
    val sa = Profiler.incrementState(Seq("t" -> a))
    val sb = Profiler.incrementState(Seq("t" -> b))
    val ab = Profiler.profileFromState(Profiler.mergeStates(Seq(sa, sb)), incCfg)
      .orderBy("column").collect()
    val ba = Profiler.profileFromState(Profiler.mergeStates(Seq(sb, sa)), incCfg)
      .orderBy("column").collect()
    assert(ab.toSeq == ba.toSeq)
  }

  test("state drift: identical snapshots → zero, disjoint → TV 1, nulls pair up") {
    val x = Seq(("a", "x"), ("b", "y"), (null, "y")).toDF("u", "w")
    val sx = Profiler.incrementState(Seq("t" -> x))
    val same = Profiler.stateDrift(sx, sx).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    same.values.foreach { r =>
      assert(r.getAs[Long]("l1_scaled") == 0L)
      assert(r.getAs[Double]("tv_distance") == 0.0)
    }
    // u: A has {a,b,null}, B has {c,d,e} → disjoint → TV = 1
    val y = Seq(("c", "x"), ("d", "y"), ("e", "y")).toDF("u", "w")
    val drift = Profiler.stateDrift(sx,
      Profiler.incrementState(Seq("t" -> y))).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(drift("u").getAs[Double]("tv_distance") == 1.0)
    assert(drift("u").getAs[Long]("null_a") == 1L)
    assert(drift("u").getAs[Long]("distinct_a") == 2L)
    // w is identically distributed {x:1, y:2} both sides → zero drift
    assert(drift("w").getAs[Long]("l1_scaled") == 0L)
  }

  test("state drift reports one-sided columns instead of dropping them") {
    // the most drastic drift — a column (or whole snapshot) vanished —
    // must surface as n=0 / TV=1, not as a silently missing row
    val a = Seq(("a", "x"), ("b", "y")).toDF("u", "w")
    val b = Seq(Tuple1("x")).toDF("w") // column u absent from snapshot B
    val drift = Profiler.stateDrift(
        Profiler.incrementState(Seq("t" -> a)),
        Profiler.incrementState(Seq("t" -> b))).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(drift.contains("u"), "one-sided column vanished from the report")
    assert(drift("u").getAs[Long]("n_a") == 2L)
    assert(drift("u").getAs[Long]("n_b") == 0L)
    assert(drift("u").getAs[Long]("distinct_b") == 0L)
    assert(drift("u").getAs[Double]("tv_distance") == 1.0)
  }

  test("concentration: uniform → 1/k, constant → 1, integer-exact sums") {
    val x = Seq("a", "a", "b", "b", "c", "c").map(v => (v, "k")).toDF("u", "w")
    val got = Profiler.stateConcentration(
        Profiler.incrementState(Seq("t" -> x))).collect()
      .map(r => r.getAs[String]("column") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_buckets"),
          r.getAs[Long]("sum_sq"), r.getAs[Double]("hhi")))).toMap
    // u: three equal buckets of 2 → HHI = 3·4/36 = 1/3
    assert(got("u") === ((6L, 3L, 12L, 12.0 / 36.0)))
    // w: constant → HHI = 1
    assert(got("w") === ((6L, 1L, 36L, 1.0)))
  }

  test("increment states round-trip through parquet (the daily-fold workflow)") {
    // day 1: profile the increment, store the STATE; day 2: load it,
    // fold the new increment in, derive the profile — no day-1 re-scan
    val day1 = Seq(("a1", "New York"), ("a2", "")).toDF("id", "city")
    val day2 = Seq(("a3", "New York"), ("a4", "Boston")).toDF("id", "city")
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toFile
    try {
      Profiler.incrementState(Seq("t" -> day1))
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/state")
      val stored = spark.read.parquet(s"${dir.getAbsolutePath}/state")
      val merged = Profiler.mergeStates(Seq(stored,
        Profiler.incrementState(Seq("t" -> day2))))
      val folded = Profiler.profileFromState(merged, incCfg)
        .orderBy("column").collect()
      val direct = Profiler.profile(day1.union(day2), "t", incCfg)
        .orderBy("column").collect()
      assert(folded.toSeq == direct.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("mode and dominant-pattern tie-breaks, on rows and on state") {
    // mode_tie:  a:2 b:2 c:1 → the smallest value wins the count tie
    // pat_tie:   AA:2 99:2 → the smallest pattern wins
    // blank_pat: three blank cells generalize to " " like the present
    //            "\t" does; blanks are missing, so " " weighs 1 < A:2
    // dead:      NULL/blank only → no mode, no pattern, no distincts
    val df = Seq[(String, String, String, String)](
      ("b", "ab", " ", null), ("a", "12", " ", ""), ("b", "cd", " ", "  "),
      ("a", "34", "\t", null), ("c", "", "x", ""), (null, null, "y", " "))
      .toDF("mode_tie", "pat_tie", "blank_pat", "dead")
    val cfg = ProfilerConfig(features = Set("mode", "pattern"))
    val fromRows = Profiler.profileManyRows(Seq("t" -> df), cfg)
    val fromState = Profiler.profileFromState(
      Profiler.incrementState(Seq("t" -> df)), cfg).collect().toSeq
    for ((via, rows) <- Seq("rows" -> fromRows, "state" -> fromState)) {
      val p = rows.map(r => r.getAs[String]("column") ->
        ((r.getAs[String]("mode_value"), r.getAs[Double]("mode_ratio"),
          r.getAs[Long]("distinct_count"), r.getAs[String]("dominant_pattern"),
          r.getAs[Double]("dominant_pattern_ratio")))).toMap
      assert(p("mode_tie") === (("a", 2.0 / 5.0, 3L, "A", 1.0)), via)
      assert(p("pat_tie") === (("12", 1.0 / 4.0, 4L, "99", 2.0 / 4.0)), via)
      assert(p("blank_pat") === (("\t", 1.0 / 3.0, 3L, "A", 2.0 / 3.0)), via)
      assert(p("dead") === (("", 0.0, 0L, "", 0.0)), via)
    }
    assert(fromRows.sortBy(_.getAs[String]("column")) ===
      fromState.sortBy(_.getAs[String]("column")))
  }

  test("profileFromState rejects quartiles") {
    val s = Profiler.incrementState(Seq("t" -> mini))
    intercept[IllegalArgumentException] {
      Profiler.profileFromState(s, ProfilerConfig())
    }
  }
}
