package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._

/** Scale-primitive specs: salting preserves counts; bucketed joins
  * eliminate the shuffle exchange. */
class ScaleSpec extends SparkSpec {

  test("salted count equals plain groupBy count") {
    val li = Tables.load(spark, sf, "lineitem")
    val plain = li.groupBy("l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedCount(li, "l_orderkey", salts = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("bucketed join plan has no shuffle exchange") {
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    Scale.writeBucketed(o, "b_orders", "o_orderkey", buckets = 4)
    Scale.writeBucketed(li, "b_lineitem", "o_orderkey", buckets = 4)
    val joined = Scale.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("ShuffleExchange"),
      s"expected exchange-free bucketed join, got:\n$physical")
    // and it still computes the right thing
    val expected = o.join(li, "o_orderkey").count()
    assert(joined.count() === expected)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("prefixSums equals the global-window cumulative sum") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((3.0, 2L, 10L), (1.0, 5L, 1L), (2.0, 1L, 7L), (5.0, 4L, 2L))
      .toDF("x", "a", "b")
    val (cum, totals) = graft.ops.Scale.prefixSums(df, "x", Seq("a", "b"),
      withNext = true)
    val got = cum.orderBy("x")
      .select("x", "__cum_a", "__cum_b", "__next")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    val want = df.orderBy("x")
      .select(col("x"), sum("a").over(w), sum("b").over(w),
        lead("x", 1).over(Window.orderBy("x")))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got === want)
    assert(totals === Map("a" -> 12L, "b" -> 20L))
  }

  test("token chunking plans with no shuffle") {
    // chunking is a projection + explode — an Exchange anywhere means
    // the corpus bytes get shuffled, which is wrong at 100 TB
    val plan = graft.text.Chunking
      .tokenChunks(Tables.load(spark, sf, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking shuffled:\n$plan")
  }

  test("packing's windows are partitioned (no global single-task window)") {
    // the running token count must come from the prefix-sum primitive:
    // every WindowExec in the plan carries a partition key (the range
    // __pid), never an empty partitionBy that funnels all rows into
    // one task
    val chunks = graft.text.Chunking
      .tokenChunks(Tables.load(spark, sf, "documents"), "doc_id", "text")
    val packed = graft.text.Packing
      .packChunks(chunks, "doc_id", "token_start", "n_tokens")
    packed.collect() // finalize AQE
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected window stages:\n$plan")
    assert(!plan.contains("Window [") || plan.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .forall(_.contains("__pid")),
      s"unpartitioned window in packing plan:\n$plan")
  }

  test("filters and projections reach the parquet scan") {
    // A scan that decodes all columns for a 2-column filter+projection
    // would be wrong at 100 TB: assert pushdown + pruning survive our
    // loader (Tables.load wraps the raw read with a conditional
    // rebalance — filters must still push THROUGH it to the source).
    val li = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val scan = li.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed to parquet:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning lost:\n$scan")
  }

  test("whole-stage codegen covers the scalar rule scan") {
    // The one-pass violation scan must stay inside WholeStageCodegen —
    // a codegen break in the per-row predicate bundle would interpret
    // every rule on every row.
    val li = Tables.load(spark, sf, "lineitem")
    val rules: Seq[graft.rules.RuleSpec] = Seq(
      graft.rules.NotNullRule("l_returnflag"),
      graft.rules.RangeRule("l_quantity", 0, 40),
      graft.rules.RegexRule("l_returnflag", "^[A-Z]$"))
    val scan = graft.rules.ViolationScanner
      .scan(li, "lineitem", rules, "l_orderkey")
    scan.collect() // AQE only finalizes (and codegens) the plan on execution
    val plan = scan.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan;
    // the predicate bundle, hit structs, and explode must all carry one
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(plan.linesIterator.count(l =>
      l.contains("*(") && (l.contains("Project") || l.contains("Filter"))) >= 2,
      s"rule predicates outside codegen:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython"))
  }

  test("domain mix shares compute in one lineage (scans each input once)") {
    // The share denominator is a window over the k-row post-agg frame;
    // a derived-aggregate branch (agg of the agg, joined back) would
    // re-run the corpus join+agg — visible as doubled parquet scans.
    val df = graft.queries.SimQueries.domainMix(spark, sf)
    df.collect() // finalize AQE
    // AQE's toString prints the final plan then the initial plan —
    // count scans only up to the initial-plan marker
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 2, s"expected embeddings+documents scanned once each, got $scans:\n$plan")
  }

  test("shingling is exchange-free (per-row distinct, no gram shuffle)") {
    // wordShingles used to end in a post-explode distinct — a full
    // shuffle of the gram stream on EVERY dedup query; the per-row
    // array_distinct formulation must keep the whole operator a
    // narrow project→generate chain. Synthetic input: Tables.load may
    // legitimately insert a rebalance repartition above its scan.
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "c d e f g")).toDF("doc_id", "text")
    val sh = graft.dedup.Dedup.wordShingles(docs, "text", "doc_id", 3)
    val plan = sh.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"shingle stream must not shuffle:\n$plan")
  }

  test("subword counting is a pure map (no shuffle, no UDF)") {
    import spark.implicits._
    val docs = Seq((1L, "starting statement"), (2L, "the")).toDF("doc_id", "text")
    val counted = docs.select(col("doc_id"),
      graft.text.VocabTokenCounter.count(col("text")).as("n_pieces"))
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"token walk must be map-side:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"token walk must stay expression-only:\n$plan")
  }

  test("substring dedup and IND discovery stay equi-join shaped") {
    // d10's duplicate-occurrence lookup and r11's pair counting must
    // never plan a pairwise join of the window/value stream — the
    // boilerplate-heavy case (every doc shares grams) would go
    // quadratic. Aggregation + hash equi-join only; the per-column
    // stat joins in r11 broadcast.
    import spark.implicits._
    val docs = (1 to 50).map(i => (i.toLong, "common footer text here now " +
      s"unique$i tail")).toDF("doc_id", "text")
    val d10 = graft.dedup.Dedup.exactSubstringDedup(docs, "text", "doc_id", k = 3)
    val p1 = d10.queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must stay equi-join shaped:\n$p1")
    val dim = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("dk", "dv")
    val fact = (1 to 40).map(i => (i.toLong, (i % 8 + 1).toLong)).toDF("id", "fk")
    val r11 = graft.rules.RuleGenerator.discoverInds(Seq(
      ("dim", dim, Seq("dk")), ("fact", fact, Seq("fk"))))
    val p2 = r11.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      s"IND discovery must stay equi-join shaped:\n$p2")
    assert(p2.contains("BroadcastHashJoin"),
      s"per-column stats should broadcast back:\n$p2")
    graft.ops.StagePersists.release(spark)
  }

  test("record linkage joins only on the blocking key (no pairwise scan)") {
    import spark.implicits._
    import graft.matching.RecordLinkage._
    val df = (1 to 100).map(i => (i.toLong, s"name-$i", "A", i * 1.0))
      .toDF("id", "name", "seg", "bal")
    val links = linkRecords(df, "id", substring(col("name"), 1, 6),
      Seq(StringField("name", 0.8), NumericField("bal", 0.2)), threshold = 0.99)
    val plan = links.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"record linkage must equi-join on the block key:\n$plan")
  }

  test("full corpus pipeline persists its stage boundaries") {
    // without the stage persists every consumer re-executes the whole
    // upstream (dedup+LSH+components) — measured 124s → 11s at sf1.
    // The final frame sits behind the packing checkpoint, so the
    // persists are asserted by what a full run leaves materialized:
    // 3 stage persists + the LSH/CC checkpoints, vs only ~2
    // checkpoints if the stage() calls were removed.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    val df = graft.queries.CorpusQueries.fullPipeline(spark, sf)
    assert(df.count() > 0)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted >= 4,
      s"expected the 3 stage persists (+checkpoints) materialized, found $persisted")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  test("frame sampling explodes metadata only (no blob in the frame rows)") {
    // Frames fan out ~30× per video: carrying the media bytes through
    // the explode (or a shuffle of them) multiplies blob I/O by the
    // frame count at 100 TB. The exploded frame must carry only id +
    // checksum + typed metadata.
    val video = graft.multimodal.Multimodal.asVideoTable(
      Tables.load(spark, sf, "documents"), "doc_id", "text")
    val frames = graft.multimodal.Multimodal.sampleFrameTimes(video, 2000L)
    assert(!frames.columns.contains("media"))
    val plan = frames.queryExecution.executedPlan.toString
    val generateLine = plan.linesIterator.find(_.contains("Generate")).getOrElse("")
    assert(generateLine.nonEmpty, s"no explode in frame plan:\n$plan")
    assert(!generateLine.contains("media"),
      s"blob column carried through the frame explode:\n$generateLine")
  }

  test("incremental dedup joins stay keyed; inline LSH buckets are exchange-free") {
    import spark.implicits._
    // w9's bucket derivation must be a pure narrow map — that is what
    // makes it legal before the stateful stage of an append-mode stream
    val docs = Seq((1L, "a b c d e"), (2L, "c d e f g")).toDF("doc_id", "text")
    val buckets = graft.dedup.Dedup.inlineLshBuckets(docs, "text", "doc_id", 3, 16, 4)
    val p1 = buckets.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"),
      s"inline LSH buckets must not shuffle:\n$p1")
    // d13: batch-vs-corpus candidate probe and verify are all equi-joins
    val corpus = Seq((2L, "c d e f g h i"), (4L, "x y z w v u t")).toDF("doc_id", "text")
    val batch = Seq((1L, "c d e f g h j"), (3L, "p q r s t u v")).toDF("doc_id", "text")
    val d13 = graft.dedup.Dedup.crossCorpusNearDuplicates(
      corpus, batch, "text", "doc_id", threshold = 0.1)
    val p2 = d13.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus dedup must stay equi-join shaped:\n$p2")
    graft.ops.StagePersists.release(spark)
  }

  test("round-8 additions stay keyed: keep-best, tfidf, re-rank, familiarity") {
    import spark.implicits._
    // d11 keep-best: id/component-keyed joins + struct argmax — no
    // pairwise or nested-loop join anywhere
    val labels = (1 to 40).map(i => (i.toLong, (i % 5).toLong))
      .toDF("id", "component_id")
    val scored = (1 to 40).map(i => (i.toLong, i * 0.01)).toDF("id", "q")
    val d11 = graft.dedup.Components.keepBest(labels, scored, "id",
      "component_id", "q")
    val p1 = d11.queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      s"keep-best must stay equi-join shaped:\n$p1")
    // t19 tfidf: the tf frame is persisted (one explode, not two) and
    // the per-doc top-k plans a WindowGroupLimit, not a global sort
    val docs = (1 to 30).map(i => (i.toLong, s"alpha beta w$i common text"))
      .toDF("doc_id", "text")
    val t19 = graft.text.TextAnalysis.tfidfKeywords(docs, "text", "doc_id", 3)
    val p2 = t19.queryExecution.executedPlan.toString
    assert(p2.contains("InMemoryTableScan"),
      s"tf frame must be persisted for its two consumers:\n$p2")
    assert(p2.contains("WindowGroupLimit"),
      s"per-doc top-k should push the group limit:\n$p2")
    graft.ops.StagePersists.release(spark)
    // s9 re-rank: the shortlist joins BROADCAST against the corpus —
    // no full-corpus shuffle into the vector fetch
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    val s9 = graft.sim.Similarity.pqRerankTopK(emb, "vec_id", "embedding",
      k = 3, shortlist = 10,
      graft.sim.Similarity.pqCodebooks(8, 16, 8), numQueries = 3L)
    val p3 = s9.queryExecution.executedPlan.toString
    assert(!p3.contains("CartesianProduct"),
      s"re-rank must not plan a cartesian vector fetch:\n$p3")
    assert(p3.contains("BroadcastHashJoin"),
      s"the shortlist fetch should broadcast:\n$p3")
    // t20 familiarity: the train-vocabulary join stays a keyed
    // equi-join (never broadcast-nested-loop), explode is distinct-per-row
    val split = docs.withColumn("split",
      when(col("doc_id") % 5 === 0, "val").otherwise("train"))
    val t20 = graft.text.TextAnalysis.crossSplitFamiliarity(
      split, "text", "doc_id", "split")
    val p4 = t20.queryExecution.executedPlan.toString
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"),
      s"familiarity join must stay keyed:\n$p4")
  }

  test("line dedup / c4 clean / dsir keep their scale shapes") {
    import spark.implicits._
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta line $i.\nshared nav line\ngamma delta $i!"))
      .toDF("doc_id", "text")
    // d14: line-keyed equi-joins only (the inverted-index family)
    val d14 = graft.dedup.Dedup.lineDedup(docs, "text", "doc_id")
    val p1 = d14.queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      s"line dedup must stay equi-join shaped:\n$p1")
    graft.ops.StagePersists.release(spark)
    // t22: pure map — NO exchange anywhere in the plan
    val t22 = graft.text.Cleaning.c4Clean(docs, "text", "doc_id")
    val p2 = t22.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"),
      s"c4 clean must be a pure map-side pass:\n$p2")
    // t23: gram-keyed joins; the totals cross-join must BROADCAST a
    // 1-row frame, never a data-sized nested loop
    val t23 = graft.text.Importance.importanceScores(
      docs, docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    val p3 = t23.queryExecution.executedPlan.toString
    assert(!p3.contains("CartesianProduct"),
      s"dsir totals must broadcast, not cartesian:\n$p3")
    graft.ops.StagePersists.release(spark)
    // d15: the containment join is the d2 inverted-index family —
    // shingle-keyed equi-joins only
    val d15 = graft.dedup.Dedup.containmentPairs(
      graft.dedup.Dedup.wordShingles(docs, "text", "doc_id", 3), 0.9)
    val p5 = d15.queryExecution.executedPlan.toString
    assert(!p5.contains("CartesianProduct") && !p5.contains("BroadcastNestedLoopJoin"),
      s"containment must stay equi-join shaped:\n$p5")
    // t24/w12: scoring against the collected weight map is a PURE map —
    // no exchange anywhere (that is what makes it stream-legal)
    val weights = graft.text.Importance.hashedWeights(
      docs, docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
      n = 2, buckets = 64)
    val t24 = graft.text.Importance.scoreWithWeights(
      docs, weights, "text", "doc_id", n = 2, buckets = 64)
    val p6 = t24.queryExecution.executedPlan.toString
    assert(!p6.contains("Exchange"),
      s"hashed-weight scoring must be a pure map-side pass:\n$p6")
    graft.ops.StagePersists.release(spark)
  }

  test("prefix sums keep their partition spread (AQE must not serialize upstream)") {
    import spark.implicits._
    // a bare repartitionByRange(col) is REPARTITION_BY_COL — AQE
    // coalesced 50k rows to ONE post-shuffle partition and the caller's
    // per-row compute (t21's quality scoring) ran serial (15s at sf1).
    // With the explicit count the checkpointed spine keeps the spread.
    // the spread that matters is the CHECKPOINTED spine (it executes
    // the caller's upstream compute); the final window stage may be
    // AQE-coalesced freely (cheap arithmetic). The spine surfaces in
    // getPersistentRDDs as the localCheckpoint block set.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val df = (1L to 5000L).map(i => (i, 1L)).toDF("__ord", "n")
    val (cum, totals) = Scale.prefixSums(df, "__ord", Seq("n"))
    assert(totals("n") == 5000L)
    val spineParts = spark.sparkContext.getPersistentRDDs.values
      .map(_.getNumPartitions).maxOption.getOrElse(0)
    assert(spineParts > 1,
      s"prefix-sum spine collapsed to $spineParts partition(s)")
    assert(cum.count() == 5000L)
  }

  test("Tables.load rebalances directory-shaped parquet (ScaleUp layout)") {
    import spark.implicits._
    // File.length() on a parquet DIRECTORY is the ~4KB inode size —
    // below the 64KB floor, which silently disabled the rebalance for
    // every Spark-written table and left map sides on one core
    val dir = java.nio.file.Files.createTempDirectory("graft_load").toFile
    try {
      (1 to 30000).map(i => (i.toLong, s"some longer padding text $i"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/documents.parquet")
      val loaded = Tables.load(spark, dir.getAbsolutePath, "documents")
      assert(loaded.rdd.getNumPartitions > 1,
        s"single-part directory read stayed on ${loaded.rdd.getNumPartitions} partition(s)")
      assert(loaded.count() == 30000L)
      // hive-partitioned layout (CorpusRelease shape): data files live
      // in split=/... SUBDIRECTORIES — the size probe must recurse or
      // the rebalance silently dies again
      (1 to 30000).map(i => (i.toLong, i % 2, s"some longer padding text $i"))
        .toDF("doc_id", "split", "text")
        .coalesce(1).write.mode("overwrite").partitionBy("split")
        .parquet(s"${dir.getAbsolutePath}/release.parquet")
      val part = Tables.load(spark, dir.getAbsolutePath, "release")
      assert(part.rdd.getNumPartitions > 2,
        s"partitioned directory read stayed on ${part.rdd.getNumPartitions} partition(s)")
      assert(part.count() == 30000L)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("Tables.load sizes a file: URI like the plain path") {
    import spark.implicits._
    // java.io.File reads 0 bytes for a URI, which skipped the rebalance
    // for every file:/hdfs: input; the Hadoop FileSystem sizes both
    val dir = java.nio.file.Files.createTempDirectory("graft_load_uri").toFile
    try {
      (1 to 30000).map(i => (i.toLong, s"some longer padding text $i"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/documents.parquet")
      val plain = Tables.load(spark, dir.getAbsolutePath, "documents")
      val uri = Tables.load(spark, dir.toURI.toString.stripSuffix("/"), "documents")
      assert(uri.rdd.getNumPartitions == plain.rdd.getNumPartitions)
      assert(uri.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
      assert(uri.count() == 30000L)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
  test("the multilingual pipelines stay equi-join shaped (l7 batch, w15 gate chain)") {
    // l7: script-shingle jaccard + CC + per-script gates — nothing may
    // plan as a cartesian/BNLJ; the LM cut join must broadcast
    val l7 = graft.queries.CorpusQueries.multilingualPipeline(spark, sf)
    val p1 = l7.queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"),
      s"l7 must stay equi-join shaped:\n$p1")
    graft.ops.StagePersists.release(spark)
    // w15: the 4 band probes and the exact-hash anti-probe are
    // broadcast hash joins on expression keys (stream-static shape)
    val w15 = graft.queries.StreamQueries.streamMultilingual(spark, sf)
    val p2 = w15.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"),
      s"w15 must stay equi-join shaped:\n$p2")
    assert(p2.contains("BroadcastHashJoin"),
      s"w15 probes should broadcast:\n$p2")
    graft.ops.StagePersists.release(spark)
  }

  test("bloom probe is a pure map; revisit dedup stays equi-join shaped") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"document body number $i"))
      .toDF("doc_id", "text")
    // d20 deployed probe: per-row columns against the collected bitmap —
    // NO exchange anywhere (the stream-legal stage)
    val m = 1 << 12
    val bm = graft.dedup.BloomDedup.bitmap(
      graft.dedup.BloomDedup.setBits(docs, "text", m, 5), m)
    val probe = docs.select(col("doc_id"),
      graft.dedup.BloomDedup.probeColumn(col("text"), bm, m, 5).as("hit"))
    val p1 = probe.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"),
      s"bloom probe must be a pure map-side pass:\n$p1")
    // r16 keep-newest: one keyed aggregation + one equi-join back
    val urls = docs.select($"doc_id",
      concat(lit("https://h"), ($"doc_id" % 7).cast("string"),
        lit(".com/p/"), ($"doc_id" % 11).cast("string")).as("url"),
      ($"doc_id" * 37 % 100).as("fetch_ts"))
    val r16 = graft.rules.HostCuration.keepNewestRevisit(
      urls, "url", "doc_id", "fetch_ts")
    val p2 = r16.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"),
      s"keep-newest revisit must stay equi-join shaped:\n$p2")
  }
}
