package graft

import graft.rules.{NotNullRule, RangeRule, UniqueRule}
import graft.streaming.StreamingQuality
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming specs: windowed stats with watermark, stateless
  * streaming violation scan, mapGroupsWithState running stats. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed stats aggregate a stream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val result = StreamingQuality.windowedStats(
      input.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value")
    val q = result.writeStream.format("memory")
      .queryName("win_stats").outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 3.0),
        (ts("2024-01-01 11:05:00"), "click", 10.0),
        (ts("2024-01-01 10:20:00"), "error", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("n"), r.getAs[Double]("mean"))).toMap
      assert(rows(("2024-01-01 10:00:00", "click")) === ((2L, 2.0)))
      assert(rows(("2024-01-01 11:00:00", "click")) === ((1L, 10.0)))
      assert(rows(("2024-01-01 10:00:00", "error")) === ((1L, 5.0)))
    } finally q.stop()
  }

  test("watermark drops too-late events in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val result = StreamingQuality.windowedStats(
      input.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value",
      windowLen = "1 hour", watermark = "2 hours")
    // append mode only emits windows the watermark has closed — the
    // mode a 100 TB pipeline runs in (complete mode re-emits all state)
    val q = result.writeStream.format("memory")
      .queryName("late_stats").outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:30:00"), "click", 2.0))
      q.processAllAvailable()
      // advance the watermark far past the 10:00 window...
      input.addData((ts("2024-01-01 20:00:00"), "click", 7.0))
      q.processAllAvailable()
      // ...then a 9h-late event for the closed window: must be dropped
      input.addData((ts("2024-01-01 10:40:00"), "click", 100.0))
      input.addData((ts("2024-01-02 09:00:00"), "click", 1.0)) // closes 20:00 too
      q.processAllAvailable()
      val rows = spark.table("late_stats").collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("mean")))
        .toMap
      // the 10:00 window emitted with ONLY the on-time event
      assert(rows("2024-01-01 10:00:00") === ((1L, 2.0)))
      assert(rows("2024-01-01 20:00:00") === ((1L, 7.0)))
    } finally q.stop()
  }

  test("session windows merge gap-close events on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val result = StreamingQuality.sessionStats(
      input.toDF().toDF("ts", "user_id", "value"), "ts", "user_id", "value",
      gap = "30 minutes")
    val q = result.writeStream.format("memory")
      .queryName("sess_stats").outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:20:00"), 1L, 3.0),  // merges: gap 20m < 30m
        (ts("2024-01-01 11:30:00"), 1L, 10.0), // new session
        (ts("2024-01-01 10:00:00"), 2L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("sess_stats").collect()
        .map(r => (r.getAs[Long]("key"), r.getString(1)) ->
          (r.getString(2), r.getAs[Long]("n"), r.getAs[Double]("mean"))).toMap
      // session end = last event + gap
      assert(rows((1L, "2024-01-01 10:00:00")) === (("2024-01-01 10:50:00", 2L, 2.0)))
      assert(rows((1L, "2024-01-01 11:30:00")) === (("2024-01-01 12:00:00", 1L, 10.0)))
      assert(rows((2L, "2024-01-01 10:00:00")) === (("2024-01-01 10:30:00", 1L, 7.0)))
    } finally q.stop()
  }

  test("streaming violation scan flags bad rows as they arrive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, String)]
    val rules = Seq(RangeRule("x", 0.0, 100.0), NotNullRule("name"))
    val result = StreamingQuality.violations(
      input.toDF().toDF("id", "x", "name"), "t", rules, "id")
    val q = result.writeStream.format("memory")
      .queryName("stream_viol").outputMode("append").start()
    try {
      input.addData((1L, 50.0, "ok"), (2L, 500.0, "big"), (3L, 5.0, ""))
      q.processAllAvailable()
      val flagged = spark.table("stream_viol").collect()
        .map(r => (r.getAs[Long]("row_id"), r.getAs[String]("rule"))).toSet
      assert(flagged === Set((2L, "range(x)"), (3L, "not_null(name)")))
    } finally q.stop()
  }

  test("streaming scan refuses relational rules") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, String)]
    assertThrows[IllegalArgumentException] {
      StreamingQuality.violations(input.toDF().toDF("id", "x", "name"),
        "t", Seq(UniqueRule("x")), "id")
    }
  }

  test("first-seen dedup drops duplicate payloads across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val result = StreamingQuality.firstSeenDedup(df, "ts",
      StreamingQuality.contentKey(col("user_id"), col("event_type")))
    val q = result.writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "click"),
        (ts("2024-01-01 10:01:00"), 1L, "click"), // dup payload
        (ts("2024-01-01 10:02:00"), 2L, "click"))
      q.processAllAvailable()
      // the duplicate arrives again in a LATER batch: state must catch it
      input.addData(
        (ts("2024-01-01 10:03:00"), 1L, "click"),
        (ts("2024-01-01 10:04:00"), 1L, "scroll"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Timestamp]("ts")))
      assert(kept.length === 3)
      assert(kept.toSet === Set(
        (1L, "click", ts("2024-01-01 10:00:00")), // first seen wins
        (2L, "click", ts("2024-01-01 10:02:00")),
        (1L, "scroll", ts("2024-01-01 10:04:00"))))
    } finally q.stop()
  }

  test("first-seen summary picks the (ts, id)-minimal event per key") {
    import spark.implicits._
    val ev = Seq(
      (ts("2024-01-01 10:05:00"), 7L, 1L, "click"),
      (ts("2024-01-01 10:00:00"), 3L, 1L, "click"),
      (ts("2024-01-01 10:00:00"), 2L, 1L, "click"), // same ts: min id wins
      (ts("2024-01-01 11:00:00"), 9L, 2L, "view"))
      .toDF("ts", "event_id", "user_id", "event_type")
    val out = StreamingQuality.firstSeenSummary(ev, "ts", "event_id",
        StreamingQuality.contentKey(col("user_id"), col("event_type")))
      .collect().map(r => (r.getAs[String]("first_ts"),
        r.getAs[Long]("first_event_id"), r.getAs[Long]("n_events"))).toSet
    assert(out === Set(
      ("2024-01-01 10:00:00", 2L, 3L),
      ("2024-01-01 11:00:00", 9L, 1L)))
  }

  test("content key encoding is injective across column boundaries") {
    import spark.implicits._
    // a bare '|' join would collide both pairs; the length-prefixed
    // encoding must keep all four payloads distinct
    val df = Seq(("x|y", "z"), ("x", "y|z"), ("b", null), (null, "b"))
      .toDF("a", "b")
    val keys = df.select(StreamingQuality.contentKey(col("a"), col("b")))
      .collect().map(_.getString(0))
    assert(keys.distinct.length === 4)
  }

  test("contamination evidence streams in append mode and matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "quick brown fox jumps over everything else entirely here"),
      (3L, "completely unrelated text with no overlap at all whatsoever"),
      (4L, "tiny"))
    val evalGrams = graft.dedup.Dedup.wordShingles(
        Seq((99L, "the quick brown fox jumps over fences")).toDF("doc_id", "text"),
        "text", "doc_id", 5)
      .select(col("shingle")).distinct().localCheckpoint(true)
    val batch = graft.dedup.Decontamination.contaminationEvidence(
        rows.toDF("doc_id", "text"), evalGrams, "text", "doc_id", n = 5)
      .as[(Long, String)].collect().toSet
    // docs 1 and 2 share eval 5-grams; 3 (no overlap) and 4 (<5 tokens) don't
    assert(batch.map(_._1) === Set(1L, 2L))
    val input = MemoryStream[(Long, String)]
    val q = graft.dedup.Decontamination.contaminationEvidence(
        input.toDF().toDF("doc_id", "text"), evalGrams, "text", "doc_id", n = 5)
      .writeStream.format("memory").queryName("w4_stream")
      .outputMode("append").start() // append works: the operator is stateless
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w4_stream").as[(Long, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("SCRIPT contamination evidence streams in append mode (CJK leak visible)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val zh = "一二三四五六七八九十百千万上下左右中大小"
    val rows = Seq(
      (1L, zh + "明月日"),                                  // CJK leak
      (2L, "the quick brown fox jumps over the lazy dog"),  // latin leak
      (3L, "完全无关的另一段文字在这里没有重叠可言三四"))     // clean CJK
    val eval_ = Seq((99L, zh), (98L, "the quick brown fox jumps over"))
      .toDF("doc_id", "text")
    val evalGrams = graft.text.ScriptText.shingles(eval_, "text", "doc_id", 5)
      .select(col("shingle")).distinct().localCheckpoint(true)
    val batch = graft.dedup.Decontamination.contaminationEvidenceScript(
        rows.toDF("doc_id", "text"), evalGrams, "text", "doc_id", n = 5)
      .as[(Long, String)].collect().toSet
    assert(batch.map(_._1) === Set(1L, 2L),
      "both the CJK and the Latin leak must be visible")
    val input = MemoryStream[(Long, String)]
    val q = graft.dedup.Decontamination.contaminationEvidenceScript(
        input.toDF().toDF("doc_id", "text"), evalGrams, "text", "doc_id", n = 5)
      .writeStream.format("memory").queryName("w4s_stream")
      .outputMode("append").start() // stateless: per-row distinct + explode
    try {
      input.addData(rows.take(1): _*)
      q.processAllAvailable()
      input.addData(rows.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.table("w4s_stream").as[(Long, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("profile state maintains live on a stream and matches the batch state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "alpha", "en"), (2L, "beta", "de"),
      (3L, "alpha", "en"), (4L, null: String, "en"), (5L, "", "de"))
    val batch = graft.profile.Profiler.incrementState(
        Seq("docs" -> rows.toDF("id", "text", "lang")))
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    val input = MemoryStream[(Long, String, String)]
    val q = graft.profile.Profiler.incrementState(
        Seq("docs" -> input.toDF().toDF("id", "text", "lang")))
      .writeStream.format("memory").queryName("w10_stream")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w10_stream")
        .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("drift alarm windows a stream against trained bands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    // band [0, 10] trained on history; hour 10 stays in band, hour 11
    // drifts (3 of 4 values out of band)
    val result = StreamingQuality.driftAlarm(
      input.toDF().toDF("ts", "value"), "ts", "value",
      lo = 0.0, hi = 10.0, alarmRate = 0.5)
    val q = result.writeStream.format("memory")
      .queryName("drift_alarm").outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), 1.0),
        (ts("2024-01-01 10:35:00"), 9.0),
        (ts("2024-01-01 11:05:00"), 50.0),
        (ts("2024-01-01 11:15:00"), 60.0),
        (ts("2024-01-01 11:25:00"), 5.0),
        (ts("2024-01-01 11:45:00"), 70.0))
      q.processAllAvailable()
      val rows = spark.table("drift_alarm").collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_out"), r.getAs[Boolean]("alarm"))).toMap
      assert(rows("2024-01-01 10:00:00") === ((2L, 0L, false)))
      assert(rows("2024-01-01 11:00:00") === ((4L, 3L, true)))
    } finally q.stop()
  }

  test("batch-trained blocklist rules enforce on a stream (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // history: junky source fails the quality gate, clean one passes
    val good = "The quick brown fox jumps over the lazy dog and keeps " +
      "running through the quiet meadow toward the river bank. " * 4
    val junk = "@@@@ #### 1234 5678 !!!! %%%% 9999 0000 &&&& ****"
    val history = ((1 to 10).map(i => (i.toLong, "clean", good)) ++
      (11 to 20).map(i => (i.toLong, "junky", junk)))
      .toDF("doc_id", "source", "text")
    val rules = graft.rules.CorpusRules.blocklistRules(
      graft.rules.CorpusRules.sourceStats(history, "source", "text",
        minAvgQuality = 0.6, maxShortFrac = 0.5))
    assert(rules.map(_.ruleName) == Seq("source_block(junky)"))
    // live traffic: two micro-batches, mixed sources
    val live = Seq((100L, "clean", good), (101L, "junky", junk),
      (102L, "junky", junk), (103L, "clean", good))
    val batch = graft.streaming.StreamingQuality.violations(
        live.toDF("doc_id", "source", "text"), "documents", rules, "doc_id")
      .select("row_id").as[Long].collect().toSet
    assert(batch === Set(101L, 102L))
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingQuality.violations(
        input.toDF().toDF("doc_id", "source", "text"), "documents", rules, "doc_id")
      .writeStream.format("memory").queryName("w7_stream")
      .outputMode("append").start() // stateless scan: append works
    try {
      input.addData(live.take(2): _*)
      q.processAllAvailable()
      input.addData(live.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w7_stream")
        .select("row_id").as[Long].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("weighted sampling streams in append mode and matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val probs = Seq(("en", 0.5), ("de", 0.25), ("fr", 0.9)).toDF("lang", "p")
    val rows = (1L to 60L).map(i =>
      (i, Seq("en", "de", "fr")((i % 3).toInt)))
    val batch = graft.text.Sampling.weightedSample(
        rows.toDF("doc_id", "lang"), "lang", "doc_id", probs)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(batch.nonEmpty && batch.size < rows.size) // p<1 drops something
    val input = MemoryStream[(Long, String)]
    val q = graft.text.Sampling.weightedSample(
        input.toDF().toDF("doc_id", "lang"), "lang", "doc_id", probs)
      .select("lang", "doc_id")
      .writeStream.format("memory").queryName("w5_stream")
      .outputMode("append").start() // stateless stream-static broadcast join
    try {
      input.addData(rows.take(30): _*)
      q.processAllAvailable()
      input.addData(rows.drop(30): _*)
      q.processAllAvailable()
      val streamed = spark.table("w5_stream").as[(String, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("c4 cleaning streams in append mode and matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "this first line has plenty of words inside.\n" +
        "the second line also carries enough words here!"),
      (2L, "only one surviving line is not enough today."),
      (3L, "keep these five good words okay.\nsome lorem ipsum filler."))
    val batch = graft.text.Cleaning.c4Clean(
        rows.toDF("doc_id", "text"), "text", "doc_id")
      .select("id", "n_kept", "kept", "clean_text")
      .as[(Long, Long, Boolean, String)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = graft.text.Cleaning.c4Clean(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .select("id", "n_kept", "kept", "clean_text")
      .writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start() // pure map: stateless by construction
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("c4_stream")
        .as[(Long, Long, Boolean, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("w20: the ingest gate streams in append mode against stored state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def words(seed: Int) = (0 until 12)
      .map(i => s"w${(seed * 31 + i * 7) % 97}x$i").mkString(" ")
    val corpus = Seq(
      (2L, s"alpha doc one ${words(1)}"),
      (4L, s"beta doc two ${words(2)}"),
      (6L, s"gamma doc three ${words(3)}")).toDF("doc_id", "text")
    val dump = Seq(
      (11L, s"fresh dump doc ${words(9)}"),          // admit (if quality ok)
      (1000002L, s"alpha doc one ${words(1)}"),      // exact revisit
      (3000006L, s"gamma doc three ${words(3)} tail")) // near-dup revision
    val cols = Seq("doc_id", "bloom_hit", "exact_dup", "n_band_hits",
      "near_candidate", "quality_ok", "admit")
    val batch = graft.queries.IngestQueries
      .streamIngestGate(corpus, dump.toDF("doc_id", "text"))
      .select(cols.head, cols.tail: _*)
      .as[(Long, Boolean, Boolean, Long, Boolean, Boolean, Boolean)]
      .collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = graft.queries.IngestQueries
      .streamIngestGate(corpus, input.toDF().toDF("doc_id", "text"))
      .select(cols.head, cols.tail: _*)
      .writeStream.format("memory").queryName("w20_stream")
      .outputMode("append").start() // columns + stream-static joins only
    try {
      input.addData(dump.take(2): _*)
      q.processAllAvailable()
      input.addData(dump.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w20_stream")
        .as[(Long, Boolean, Boolean, Long, Boolean, Boolean, Boolean)]
        .collect().toSet
      assert(streamed === batch)
      // the verdicts themselves: revisit caught exactly, revision by bands
      val by = batch.map(r => r._1 -> r).toMap
      assert(by(1000002L)._2 && by(1000002L)._3, "revisit must Bloom+confirm")
      assert(by(3000006L)._5 && !by(3000006L)._3,
        "revision is a near-candidate, not an exact dup")
      assert(!by(11L)._3 && !by(11L)._5, "fresh doc passes the dedup gates")
    } finally q.stop()
    graft.ops.StagePersists.release(spark)
  }

  test("HTML extraction streams in append mode and matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "<div><a href=\"/\">home</a> <a href=\"/b\">about</a></div>" +
        "<p>the first page carries a real prose paragraph inside.</p>"),
      (2L, "<style>b { x: 1 }</style><p>and the second page also has " +
        "enough of it to keep.</p><div>copyright 2026 rights reserved" +
        " worldwide sitewide</div>"))
    def cols(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "n_blocks", "n_kept", "n_link_dropped", "text")
      .as[(Long, Int, Int, Int, String)]
    val batch = cols(graft.text.HtmlText.extract(
      rows.toDF("doc_id", "html"), "html", "doc_id")).collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = cols(graft.text.HtmlText.extract(
        input.toDF().toDF("doc_id", "html"), "html", "doc_id"))
      .writeStream.format("memory").queryName("html_stream")
      .outputMode("append").start() // pure map: stateless by construction
    try {
      input.addData(rows.head)
      q.processAllAvailable()
      input.addData(rows(1))
      q.processAllAvailable()
      val streamed = spark.table("html_stream")
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("line filter evidence streams in append mode against a trained table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train the dup-line table on a BATCH corpus; enforce on a stream
    val corpus = Seq(
      (1L, "unique alpha\nshared nav line\nbeta"),
      (2L, "shared nav line\ngamma"),
      (3L, "delta\nshared nav line")).toDF("doc_id", "text")
    val known = graft.dedup.Dedup.knownDupLines(corpus, "text")
    val batch = graft.dedup.Dedup.lineFilterEvidence(
        corpus, known, "text", "doc_id")
      .as[(Long, Int, String)].collect().toSet
    assert(batch.map(_._1) == Set(1L, 2L, 3L)) // every doc carries the line
    val input = MemoryStream[(Long, String)]
    val q = graft.dedup.Dedup.lineFilterEvidence(
        input.toDF().toDF("doc_id", "text"), known, "text", "doc_id")
      .writeStream.format("memory").queryName("w11_stream")
      .outputMode("append").start() // stateless explode + stream-static join
    try {
      input.addData((1L, "unique alpha\nshared nav line\nbeta"),
        (2L, "shared nav line\ngamma"))
      q.processAllAvailable()
      input.addData((3L, "delta\nshared nav line"))
      q.processAllAvailable()
      val streamed = spark.table("w11_stream")
        .as[(Long, Int, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("hashed importance scoring streams in append mode (trained weights)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train the hashed DSIR weights on a BATCH corpus (target = doc 1's
    // dialect), then score a stream with the pure per-row fold
    val corpus = Seq(
      (1L, "alpha beta alpha beta gamma"),
      (2L, "delta epsilon zeta delta"),
      (3L, "alpha beta zeta")).toDF("doc_id", "text")
    val weights = graft.text.Importance.hashedWeights(
      corpus, corpus.filter(col("doc_id") === 1L), "text", "doc_id",
      n = 2, buckets = 64)
    val batch = graft.text.Importance.scoreWithWeights(
        corpus, weights, "text", "doc_id", n = 2, buckets = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.exists(_._3 > 0L)) // the target doc scores positive
    val input = MemoryStream[(Long, String)]
    val q = graft.text.Importance.scoreWithWeights(
        input.toDF().toDF("doc_id", "text"), weights, "text", "doc_id",
        n = 2, buckets = 64)
      .writeStream.format("memory").queryName("w12_stream")
      .outputMode("append").start() // pure per-row fold: stateless
    try {
      input.addData((1L, "alpha beta alpha beta gamma"),
        (2L, "delta epsilon zeta delta"))
      q.processAllAvailable()
      input.addData((3L, "alpha beta zeta"))
      q.processAllAvailable()
      val streamed = spark.table("w12_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("bpe encoding streams in append mode (trained merge table)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train the merge table on a BATCH corpus, then encode a stream
    // with the pure per-word fold — the t25 operator's deploy shape
    val corpus = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest widest widest widest"))
      .toDF("doc_id", "text")
    val counter = graft.text.BpeTokenCounter(
      graft.text.BpeTrainer.trainMerges(corpus, "text", numMerges = 4)
        .map(m => (m._2, m._3)))
    def encode(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          graft.text.BpeTrainer.words(col("text"))).cast("long").as("n_words"),
        counter.count(col("text")).as("n_pieces"))
    val batch = encode(corpus).as[(Long, Long, Long)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = encode(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t25_stream")
      .outputMode("append").start() // stateless map: no watermark needed
    try {
      input.addData((1L, "low low low low low lower lower"))
      q.processAllAvailable()
      input.addData(
        (2L, "newest newest newest newest newest newest widest widest widest"))
      q.processAllAvailable()
      val streamed = spark.table("t25_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("token chunking streams in append mode (stateless explode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "a b c d e f g h"), (2L, "one two three"), (3L, ""))
    val batch = graft.text.Chunking.tokenChunks(
        rows.toDF("doc_id", "text"), "doc_id", "text", window = 4, step = 3)
      .select("doc_id", "token_start", "n_tokens", "chunk")
      .as[(Long, Int, Int, String)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = graft.text.Chunking.tokenChunks(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        window = 4, step = 3)
      .select("doc_id", "token_start", "n_tokens", "chunk")
      .writeStream.format("memory").queryName("w6_chunks")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w6_chunks")
        .as[(Long, Int, Int, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("piece-grain chunking streams in append mode (stateless explode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // t17's shape is the same stateless project+explode as t7 — the
    // piece walk (native PieceCounts) and the word-of-piece index are
    // per-row, so subword-grain chunking runs unchanged on a stream
    val rows = Seq(
      (1L, "starting statement the quick brown fox ingest mention"),
      (2L, "one two three"), (3L, ""))
    val batch = graft.text.Chunking.pieceChunks(
        rows.toDF("doc_id", "text"), "doc_id", "text", window = 6, step = 4)
      .select("doc_id", "piece_start", "n_pieces", "chunk")
      .as[(Long, Long, Long, String)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = graft.text.Chunking.pieceChunks(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        window = 6, step = 4)
      .select("doc_id", "piece_start", "n_pieces", "chunk")
      .writeStream.format("memory").queryName("w_piece_chunks")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w_piece_chunks")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming packer: single shard equals batch binSegments") {
    import spark.implicits._
    // chunks with straddles: doc 1 = 7+7 tokens, doc 2 = 10, doc 3 = 3
    // over 8-token bins forces multiple boundary splits
    val chunks = Seq(
      (1L, 0L, 7L), (1L, 5L, 7L), (2L, 0L, 10L), (3L, 0L, 3L), (3L, 9L, 0L))
      .toDF("doc_id", "token_start", "n_tokens")
      .withColumn("shard", org.apache.spark.sql.functions.lit("all"))
    val batch = graft.text.Packing.binSegments(
        chunks, "doc_id", "token_start", "n_tokens", seqLen = 8)
      .select("bin_id", "seq", "doc_id", "token_start", "token_len")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val stateful = graft.text.Packing.streamingBinSegments(
        chunks, "shard", "doc_id", "token_start", "n_tokens", seqLen = 8)
      .select("bin_id", "seq", "doc_id", "token_start", "token_len")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(stateful === batch)
    assert(batch.nonEmpty && batch.exists(_._5 < 7L), "expected a straddle split")
  }

  test("sequence packing streams in append mode and matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two shards interleaved; per-shard (id, start) order holds across
    // micro-batches (the operator's ordering contract)
    val rows = Seq(
      ("en", 1L, 0L, 5L), ("de", 1L, 0L, 3L), ("en", 2L, 0L, 9L),
      ("de", 2L, 0L, 12L), ("en", 3L, 0L, 2L), ("de", 4L, 0L, 1L),
      ("en", 5L, 0L, 8L), ("de", 5L, 0L, 7L))
    val cols = Seq("lang", "doc_id", "token_start", "n_tokens")
    val batch = graft.text.Packing.streamingBinSegments(
        rows.toDF(cols: _*), "lang", "doc_id", "token_start", "n_tokens",
        seqLen = 8)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val input = MemoryStream[(String, Long, Long, Long)]
    val q = graft.text.Packing.streamingBinSegments(
        input.toDF().toDF(cols: _*), "lang", "doc_id", "token_start",
        "n_tokens", seqLen = 8)
      .writeStream.format("memory").queryName("w6_packed")
      .outputMode("append").start()
    try {
      // three micro-batches: state (offset + open-bin seq counter) must
      // carry across them for bins that straddle batch boundaries
      input.addData(rows.take(3): _*)
      q.processAllAvailable()
      input.addData(rows.slice(3, 6): _*)
      q.processAllAvailable()
      input.addData(rows.drop(6): _*)
      q.processAllAvailable()
      val streamed = spark.table("w6_packed")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
      // both shards produced segments and at least one bin spans batches
      assert(streamed.map(_._1) === Set("en", "de"))
    } finally q.stop()
  }

  test("streaming near-dedup evidence matches the batch run across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    // ids arrive in increasing order (the operator's ordering contract);
    // 1↔3 and 1↔4 are near/exact dups whose buckets collide, 2 is noise
    val rows = Seq(
      (1L, base),
      (2L, "completely different words about spark engines and data lakes now"),
      (3L, base), // exact dup of 1 — every band collides
      (4L, base + " tonight"), // near dup — some bands collide
      (5L, "yet more unrelated content talking about benchmarks and planners"))
    def buckets(df: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.inlineLshBuckets(df, "text", "doc_id", 3, 16, 4)
    val batch = StreamingQuality.firstSeenBucketEvidence(
        buckets(rows.toDF("doc_id", "text")))
      .as[(Long, Int, String, Long)].collect().toSet
    assert(batch.map(_._1).contains(3L) && batch.map(_._1).contains(4L))
    assert(batch.forall(_._4 == 1L) && !batch.map(_._1).contains(2L))
    val input = MemoryStream[(Long, String)]
    val q = StreamingQuality.firstSeenBucketEvidence(
        buckets(input.toDF().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("w9_evidence")
      .outputMode("append").start()
    try {
      // dup arrives two micro-batches after its first-seen bucket:
      // state must carry across batches
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.slice(2, 3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("w9_evidence")
        .as[(Long, Int, String, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("w13: the whole crawl→corpus chain runs as ONE append-mode stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = sf // sf0.001 keeps the spec fast; w13's gate run is sf0.01
    val outCols = Seq("lang", "bin_id", "seq", "doc_id", "token_start",
      "token_len")
    // the declared query: the chain's tail over the control plane's
    // gated frame — the rows the DuckDB oracle certifies
    val batch = graft.queries.StreamQueries.streamCorpusPipeline(spark, dir)
      .select(outCols.head, outCols.tail: _*)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // the same chain, same control plane, on a MemoryStream — source
    // gate, C4 line filter, 4-way static bucket probe, quality/
    // repetition/DSIR gates, threshold sampling, chunk explode, and the
    // stateful packer, all in ONE append-mode query. Micro-batches
    // split the corpus in doc_id order (the packer's ordering
    // contract).
    val control = graft.queries.StreamQueries.w13Control(spark, dir)
    val rows = graft.queries.StreamQueries
      .w13Planted(graft.Tables.load(spark, dir, "documents"))
      .orderBy("doc_id").as[(Long, String, String, String)].collect()
    val input = MemoryStream[(Long, String, String, String)]
    val q = control.chain(input.toDF().toDF("doc_id", "lang", "source", "text"))
      .writeStream.format("memory").queryName("w13_out")
      .outputMode("append").start()
    try {
      val third = (rows.length + 2) / 3
      rows.grouped(third).foreach { g =>
        input.addData(g.toSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("w13_out")
        .select(outCols.head, outCols.tail: _*)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("w15: the multilingual crawl→corpus chain runs as ONE append-mode stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outCols = Seq("script", "bin_id", "seq", "doc_id", "token_start",
      "token_len")
    // the declared query's rows (the oracle-certified ones)
    val batch = graft.queries.StreamQueries.streamMultilingual(spark, sf)
      .select(outCols.head, outCols.tail: _*)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // same chain, same control plane, on a MemoryStream: content-hash
    // anti-probe, script-LSH band probe, per-script quality + LM gates
    // (unscorable kept), threshold sampling, script-grain chunking, and
    // the per-shard stateful packer — ONE append-mode query.
    val control = graft.queries.StreamQueries.w15Control(spark, sf)
    val rows = graft.queries.StreamQueries
      .w15Planted(graft.Tables.load(spark, sf, "documents"))
      .orderBy("doc_id").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = control.chain(input.toDF().toDF("doc_id", "text2"))
      .writeStream.format("memory").queryName("w15_out")
      .outputMode("append").start()
    try {
      val third = (rows.length + 2) / 3
      rows.grouped(third).foreach { g =>
        input.addData(g.toSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("w15_out")
        .select(outCols.head, outCols.tail: _*)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("inline dup-trigram fraction equals the grouped repetition metric") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf, "documents")
      .unionByName(Seq(
        (9001L, "alpha beta gamma alpha beta gamma alpha beta gamma delta"),
        (9002L, "one two three four five six seven"),
        (9003L, "x y"),
        (9004L, "")).toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("s"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length($"text").cast("long")),
        allowMissingColumns = true)
    val grouped = graft.text.TextAnalysis.repetitionMetrics(docs, "text", "doc_id")
      .select($"id".as("doc_id"), $"dup_trigram_frac".as("g"))
    val inline = docs.select($"doc_id",
      graft.text.TextAnalysis.inlineDupTrigramFrac("text").as("i"))
    val bad = grouped.join(inline, "doc_id").filter($"g" =!= $"i").count()
    assert(bad == 0L)
    // the planted repeat actually produces a nonzero fraction
    val hot = inline.filter($"doc_id" === 9001L).collect().head.getDouble(1)
    assert(hot > 0.5, s"expected heavy duplication, got $hot")
  }

  test("hashed-LM scoring streams in append mode and matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lm = graft.text.LanguageModel
    val ref = Seq((0L, "the quick brown fox jumps over the lazy dog " +
      "the quick brown fox returns")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the quick brown fox"), (2L, "lazy dog jumps"),
      (3L, "completely novel words here"), (4L, "solo"), (5L, ""),
      (6L, "the quick the quick the quick"))
    val (c2, c1) = lm.hashedCounts(ref, "text", b2 = 64, b1 = 32)
    val (d2, d1) = lm.denseCounts(c2, c1, 64, 32)
    val (n, nll) = lm.nllColumns(d2, d1, 64, 32, "text")
    val batch = rows.toDF("doc_id", "text")
      .select($"doc_id", n.as("n_grams"), nll.as("nll_fp"))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.exists(_._3 > 0L))
    assert(batch.filter(r => r._1 == 4L || r._1 == 5L)
      .forall(r => r._2 == 0L && r._3 == 0L))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select($"doc_id", n.as("n_grams"), nll.as("nll_fp"))
      .writeStream.format("memory").queryName("w14_stream")
      .outputMode("append").start() // pure per-row fold: stateless
    try {
      input.addData(rows.take(3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("w14_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("per-language LM gate streams in append mode and matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.{ScriptLm, TextAnalysis}
    val keys = TextAnalysis.markers.keys.toSeq.sorted
    val hist = Seq(
      (0L, "the quick fox and the dog of the fen is that for with was"),
      (2L, "der hund und die katze ist nicht das ein mit auf sich"),
      (4L, "le chat est dans la maison et les que pour pas"),
      (6L, "the cat and the hat was in the box for the fox"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the fox and the dog was in the fen"),
      (3L, "der hund ist nicht die katze"),
      (5L, "zzz qqq vvv"), // unroutable → tagged, kept
      (7L, ""))
    val route = TextAnalysis.langId("text")
    val (c2, c1) = ScriptLm.hashedCountsBy(hist, "text", route, 64, 32)
    val (d2, d1) = ScriptLm.denseCounts(c2, c1, 64, 32, keys = keys)
    val cuts = ScriptLm.percentileCuts(
      ScriptLm.scoreBy(hist, c2, c1, 64, 32, "text", "doc_id", route,
        noneKey = "unknown"), 7, 10)
    def stage(df: org.apache.spark.sql.DataFrame) =
      ScriptLm.withScores(df, (d2, d1), 64, 32, "text", route, keys,
          noneKey = "unknown")
        .select($"doc_id", $"script".as("lang"), $"n_grams", $"nll_fp",
          $"lm_scorable")
        .withColumn("kept", ScriptLm.gateKept($"lang", $"n_grams",
          $"nll_fp", cuts, noneKey = "unknown"))
    val batch = stage(rows.toDF("doc_id", "text"))
      .as[(Long, String, Long, Long, Boolean, Boolean)].collect().toSet
    // the unscorable policy carries through: unroutable docs kept+tagged
    assert(batch.exists(r => r._1 == 5L && !r._5 && r._6))
    assert(batch.exists(r => r._1 == 7L && !r._5 && r._6))
    val input = MemoryStream[(Long, String)]
    val q = stage(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("w16_stream")
      .outputMode("append").start() // pure per-row kernel + literal cuts
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w16_stream")
        .as[(Long, String, Long, Long, Boolean, Boolean)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("running stats accumulate across batches via mapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val q = StreamingQuality.runningStats(input.toDS())
      .writeStream.format("memory").queryName("run_stats")
      .outputMode("update").start()
    try {
      input.addData(("a", 1.0), ("a", 3.0), ("b", 10.0))
      q.processAllAvailable()
      input.addData(("a", 5.0))
      q.processAllAvailable()
      // update mode: take the LAST emitted state per key
      val last = spark.table("run_stats").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("n"),
          r.getAs[Double]("sum"), r.getAs[Double]("min"), r.getAs[Double]("max")))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      assert(last("a") === (("a", 3L, 9.0, 1.0, 5.0)))
      assert(last("b") === (("b", 1L, 10.0, 10.0, 10.0)))
    } finally q.stop()
  }
}
