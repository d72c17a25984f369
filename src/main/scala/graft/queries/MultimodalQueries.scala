package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-gate query for the multimodal metadata path: stub
  * features are md5-derived, so DuckDB reproduces them exactly over the
  * same UTF-8 bytes. */
object MultimodalQueries {

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaFeatures(
        Multimodal.asMediaTable(Tables.load(spark, dir, "documents"),
          "doc_id", "text"))
      .orderBy("id")

  val mediaFeaturesSql: String =
    s"""SELECT doc_id AS id,
      |  octet_length(encode(text))::BIGINT AS n_bytes,
      |  md5(text) AS checksum,
      |  (1 + ${OracleSql.md5U60Sql("text")} % 1024)::INT AS width,
      |  (1 + (${OracleSql.md5U60Sql("text")} // 1024) % 1024)::INT AS height,
      |  (1 + ${OracleSql.md5U60Sql("text")} % 3)::INT AS n_channels
      |FROM documents ORDER BY id""".stripMargin

  // ---- mm2: perceptual dHash image near-duplicates ----------------------

  /** documents-as-media ∪ shifted copy → every "image" has one planted
    * exact duplicate; the dHash pipeline (grayscale decode at the
    * mapPartitions boundary → 64-bit difference hash → banded Hamming
    * join) must recover exactly those pairs at distance 0 (chained-md5
    * stub grids make chance collisions within distance 3 vanishing). */
  def imageDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(Tables.load(spark, dir, "documents"),
      "doc_id", "text").select(col("id"), col("media"))
    val doubled = media.unionByName(
      media.select((col("id") + 1000000).as("id"), col("media")))
    Multimodal.dhashPairs(
        Multimodal.dhashFeatures(doubled, Multimodal.StubGrayscaleDecoder),
        maxDistance = 3)
      .orderBy("ida", "idb")
  }

  /** Mirror of StubGrayscaleDecoder + dhash64 + the banded Hamming
    * join: 5 chained md5 hex blocks → 72-byte grid → 64 adjacent-pixel
    * comparisons → unsigned HUGEINT signature → signed two's-complement
    * BIGINT for xor/bit_count (the simhash oracle's device). */
  val imageDupPairsSql: String = {
    def g(i: Int) = s"('0x' || substr(hexs, ${2 * i + 1}, 2))::INT"
    val sig = (for (r <- 0 until 8; c <- 0 until 8) yield
      s"CASE WHEN ${g(r * 9 + c)} > ${g(r * 9 + c + 1)} THEN ${java.math.BigInteger.ONE.shiftLeft(r * 8 + c)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    val bandStructs = (0 until 4).map(b =>
      s"SELECT id, ssig, $b AS band, ((usig // ${1L << (b * 16)}) % 65536)::BIGINT AS key FROM sigs2")
      .mkString("\nUNION ALL\n")
    s"""WITH doubled AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |chain AS (
       |  SELECT id, md5(text) AS h1 FROM doubled),
       |chain2 AS (
       |  SELECT id, h1, md5(h1) AS h2, md5(md5(h1)) AS h3,
       |    md5(md5(md5(h1))) AS h4, md5(md5(md5(md5(h1)))) AS h5
       |  FROM chain),
       |grids AS (SELECT id, h1 || h2 || h3 || h4 || h5 AS hexs FROM chain2),
       |sigs AS (SELECT id, ($sig) AS usig FROM grids),
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

  // ---- mm3: video frame sampling ----------------------------------------

  private val StrideMs = 2000L

  /** documents-as-videos → probe typed metadata (duration, fps) →
    * sample one frame per 2 s of wall clock → per-video rollup
    * (metadata carried through, frame count, last sampled ts, min
    * frame key). The rollup keeps gate output O(#videos) while still
    * pinning every sampled timestamp and frame key through the
    * count/max/min triple. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val video = Multimodal.asVideoTable(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    Multimodal.sampleFrameTimes(video, StrideMs)
      .groupBy("id")
      .agg(max(col("duration_ms")).as("duration_ms"),
        max(col("fps")).as("fps"),
        count(lit(1)).as("n_frames"),
        max(col("ts_ms")).as("last_ts_ms"),
        min(col("frame_key")).as("frame_digest"))
      .orderBy("id")
  }

  val frameSampleSql: String =
    s"""WITH meta AS (
       |  SELECT doc_id AS id, md5(text) AS csum,
       |    1000 + (octet_length(encode(text)) * 977) % 60000 AS duration_ms,
       |    (24 + (${OracleSql.md5U60Sql("text")} % 2) * 6)::BIGINT AS fps
       |  FROM documents),
       |frames AS (
       |  SELECT id, csum, duration_ms, fps,
       |    unnest(range(0, duration_ms, $StrideMs)) AS ts_ms
       |  FROM meta)
       |SELECT id, MAX(duration_ms)::BIGINT AS duration_ms, MAX(fps) AS fps,
       |  COUNT(*)::BIGINT AS n_frames, MAX(ts_ms)::BIGINT AS last_ts_ms,
       |  MIN(md5(csum || ':' || ts_ms::VARCHAR)) AS frame_digest
       |FROM frames GROUP BY id ORDER BY id""".stripMargin

  // ---- mm4: audio probing ------------------------------------------------

  /** documents-as-audio → typed probe metadata (rate/channels/duration/
    * loudness bucket) at the same decode boundary as mm1-mm3; the gate
    * checks the codegen'd metadata path, the spec pins the
    * mapPartitions decode path to it bit-for-bit. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(
        Multimodal.asMediaTable(Tables.load(spark, dir, "documents"),
          "doc_id", "text"))
      .orderBy("id")

  val audioFeaturesSql: String =
    s"""SELECT doc_id AS id,
      |  octet_length(encode(text))::BIGINT AS n_bytes,
      |  md5(text) AS checksum,
      |  (CASE ${OracleSql.md5U60Sql("text")} % 4
      |     WHEN 0 THEN 16000 WHEN 1 THEN 22050 WHEN 2 THEN 44100
      |     ELSE 48000 END)::BIGINT AS sample_rate,
      |  (1 + (${OracleSql.md5U60Sql("text")} // 4) % 2)::BIGINT AS n_channels,
      |  (500 + (octet_length(encode(text)) * 977) % 120000)::BIGINT AS duration_ms,
      |  ((${OracleSql.md5U60Sql("text")} // 8) % 10)::BIGINT AS loudness_bucket
      |FROM documents ORDER BY id""".stripMargin

  // ---- mm5: audio fingerprint near-dups ----------------------------------

  /** documents-as-audio ∪ exact copies: every blob meets its bit-
    * identical twin at Hamming 0; the banded join must recover exactly
    * those plus whatever incidental near-collisions the corpus holds. */
  def audioDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(Tables.load(spark, dir, "documents"),
      "doc_id", "text").select(col("id"), col("media"))
    val doubled = media.unionByName(
      media.select((col("id") + 1000000).as("id"), col("media")))
    Multimodal.audioFingerprintPairs(
        Multimodal.audioFingerprintFeatures(doubled,
          Multimodal.StubAudioEnergyDecoder),
        maxDistance = 3)
      .orderBy("ida", "idb")
  }

  /** Mirror of StubAudioEnergyDecoder + audioFingerprint64 + the banded
    * Hamming join: 5 chained md5 hex blocks → 65 window energies → 64
    * rise/fall delta bits → banded 16-bit keys (the mm2/simhash oracle
    * device, 1-D). */
  val audioDupPairsSql: String = {
    def e(i: Int) = s"('0x' || substr(hexs, ${2 * i + 1}, 2))::INT"
    val sig = (0 until 64).map(w =>
      s"CASE WHEN ${e(w)} > ${e(w + 1)} THEN ${java.math.BigInteger.ONE.shiftLeft(w)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    val bandStructs = (0 until 4).map(b =>
      s"SELECT id, ssig, $b AS band, ((usig // ${1L << (b * 16)}) % 65536)::BIGINT AS key FROM sigs2")
      .mkString("\nUNION ALL\n")
    s"""WITH doubled AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |chain AS (
       |  SELECT id, md5(text) AS h1 FROM doubled),
       |chain2 AS (
       |  SELECT id, h1, md5(h1) AS h2, md5(md5(h1)) AS h3,
       |    md5(md5(md5(h1))) AS h4, md5(md5(md5(md5(h1)))) AS h5
       |  FROM chain),
       |seqs AS (SELECT id, h1 || h2 || h3 || h4 || h5 AS hexs FROM chain2),
       |sigs AS (SELECT id, ($sig) AS usig FROM seqs),
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

  // ---- mm6: video frame-sequence near-dups -------------------------------

  // declared above the SQL val that interpolates them (init order)
  private val VWindow = 64
  private val VNum = 9
  private val VDen = 10
  private val VDfCap = 50

  /** Frame-sequence video dedup ([[Multimodal.videoDupPairs]]): the
    * corpus-as-video with PLANTED re-upload shapes — every doc_id ≡ 3
    * (mod 40) becomes a TRIMMED copy of its predecessor (the leading
    * two-thirds of its bitstream, cut at a segment boundary — the
    * keyframe-aligned trim, so every surviving frame matches) — plus
    * whatever exact re-encodes the raw corpus already contains. Pairs share ≥ 90% of the smaller
    * side's content-aligned frame hashes; boilerplate segments above
    * the df cap are dropped (the d2 stop-shingle device). */
  def videoDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val prev = docs.select((col("doc_id") + 1L).as("doc_id"),
      col("text").as("__ptext"))
    val derived = docs.join(prev, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(40L)) === 3L && col("__ptext").isNotNull,
            col("__ptext").substr(lit(1),
              (graft.text.LanguageModel.ldiv(
                graft.text.LanguageModel.ldiv(
                  length(col("__ptext")).cast("long") * 2L, lit(3L)),
                lit(VWindow.toLong)) * VWindow).cast("int")))
          .otherwise(col("text")).as("text"))
    val media = Multimodal.asMediaTable(derived, "doc_id", "text")
    Multimodal.videoDupPairs(media, VWindow, VNum, VDen, VDfCap)
      .orderBy("id_a", "id_b")
  }

  val videoDupPairsSql: String =
    s"""WITH v2 AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 40 = 3 AND p.text IS NOT NULL
       |      THEN substr(p.text, 1,
        ((((len(p.text) * 2) // 3) // $VWindow) * $VWindow)::INT)
       |      ELSE d.text END AS text
       |  FROM documents d
       |  LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
       |fr AS (
       |  SELECT DISTINCT doc_id AS id,
       |    ${OracleSql.md5LongSql(s"substr(text, (i * $VWindow + 1)::INT, $VWindow)")} AS fhash
       |  FROM (SELECT doc_id, text,
       |          unnest(range(0, GREATEST((len(text) - 1) // $VWindow, 0)
       |            + 1)) AS i
       |        FROM v2)),
       |sizes AS (SELECT id, COUNT(*)::BIGINT AS n FROM fr GROUP BY id),
       |rare AS (
       |  SELECT fr.* FROM fr JOIN (
       |    SELECT fhash FROM fr GROUP BY fhash
       |    HAVING COUNT(*) <= $VDfCap AND COUNT(*) >= 2) ok USING (fhash)),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*)::BIGINT AS inter
       |  FROM rare a JOIN rare b ON a.fhash = b.fhash AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, p.inter, sa.n AS n_a, sb.n AS n_b
       |FROM pairs p
       |JOIN sizes sa ON sa.id = p.id_a
       |JOIN sizes sb ON sb.id = p.id_b
       |WHERE p.inter * $VDen >= LEAST(sa.n, sb.n) * $VNum
       |ORDER BY p.id_a, p.id_b""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm6_video_dup_pairs" -> (videoDupPairs _),
    "mm1_media_features" -> (mediaFeatures _),
    "mm2_image_dup_pairs" -> (imageDupPairs _),
    "mm3_frame_sample" -> (frameSample _),
    "mm4_audio_features" -> (audioFeatures _),
    "mm5_audio_dup_pairs" -> (audioDupPairs _))

  def oracleSql: Map[String, String] = Map(
    "mm6_video_dup_pairs" -> videoDupPairsSql,
    "mm1_media_features" -> mediaFeaturesSql,
    "mm2_image_dup_pairs" -> imageDupPairsSql,
    "mm3_frame_sample" -> frameSampleSql,
    "mm4_audio_features" -> audioFeaturesSql,
    "mm5_audio_dup_pairs" -> audioDupPairsSql)
}
