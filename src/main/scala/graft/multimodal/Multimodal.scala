package graft.multimodal

import graft.functions.Md5
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal columns for training-data pipelines (north-star mandate):
  * image/audio/video as opaque `binary` columns with typed metadata.
  *
  * Two execution paths:
  *  - **metadata path** — pure Column expressions (octet length, md5
  *    checksum, md5-derived stub features): codegen'd, map-side, no
  *    UDF; this is what the correctness gate checks.
  *  - **decode path** — `mapPartitions` over typed rows with an
  *    explicit batch shape (the Scala analogue of `mapInPandas`: one
  *    decoder call per batch, not per row, so a real decoder can
  *    amortize model/library setup per batch). The decoder itself is a
  *    pluggable trait; the bundled [[StubDecoder]] is a DETERMINISTIC
  *    FAKE (this environment ships no image/audio libraries) that
  *    reproduces the metadata path bit-for-bit, which is exactly what
  *    the spec asserts — the Spark-side plumbing (schema, partitioning,
  *    batching, typed Encoders) is real and tested.
  *
  * Scale: media blobs never shuffle — both paths are narrow
  * transformations; only the small feature rows move downstream.
  */
object Multimodal {

  /** One decoded media item's features. For a real image decoder:
    * width/height from the header, channels, etc. */
  final case class MediaFeatures(id: Long, n_bytes: Long, checksum: String,
      width: Int, height: Int, n_channels: Int)

  /** Batch-oriented decoder boundary (one call per batch of blobs). */
  trait MediaDecoder extends Serializable {
    def decodeBatch(ids: Seq[Long], blobs: Seq[Array[Byte]]): Seq[MediaFeatures]
  }

  /** Deterministic stand-in for a real decoder: "dimensions" derived
    * from the md5 of the bytes — matches [[stubFeatureColumns]]. */
  object StubDecoder extends MediaDecoder {
    def decodeBatch(ids: Seq[Long], blobs: Seq[Array[Byte]]): Seq[MediaFeatures] =
      ids.zip(blobs).map { case (id, bytes) =>
        val d = Md5.digest(bytes)
        val h = Md5.top60(d)
        MediaFeatures(id, bytes.length.toLong, Md5.hex(d),
          (1 + h % 1024).toInt, (1 + (h / 1024) % 1024).toInt,
          (1 + h % 3).toInt)
      }
  }

  /** Wrap a text corpus as a media table: (id, media binary, media_type)
    * — the test stand-in for real image/audio blobs. */
  def asMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("id"),
      encode(col(textCol), "UTF-8").as("media"),
      lit("text/plain").as("media_type"))

  /** Metadata path: stub features as pure Column expressions —
    * bit-identical to [[StubDecoder]]. */
  def stubFeatureColumns(media: Column): Seq[(String, Column)] = {
    val hex = md5(media)
    val h = conv(substring(hex, 1, 15), 16, 10).cast(LongType)
    Seq(
      "n_bytes" -> octet_length(media).cast(LongType),
      "checksum" -> hex,
      "width" -> (lit(1) + pmod(h, lit(1024L))).cast("int"),
      // h/1024 must be INTEGER division to match the decoder (Column./
      // on longs is double division); 1024 = 2^10 → shiftright is exact
      "height" -> (lit(1) + pmod(shiftright(h, 10), lit(1024L))).cast("int"),
      "n_channels" -> (lit(1) + pmod(h, lit(3L))).cast("int"))
  }

  /** Metadata-path feature extraction (codegen'd, oracle-checkable). */
  def mediaFeatures(mediaTable: DataFrame): DataFrame =
    mediaTable.select(col("id") +: stubFeatureColumns(col("media")).map {
      case (n, c) => c.as(n)
    }: _*)

  /** Decode path: typed mapPartitions with per-partition batching —
    * the real-decoder integration point. `batchSize` bounds decoder
    * memory (batch of blobs in flight, not the whole partition). */
  def decodeFeatures(mediaTable: DataFrame, decoder: MediaDecoder,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = mediaTable.sparkSession
    import spark.implicits._
    mediaTable.select(col("id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          decoder.decodeBatch(batch.map(_._1), batch.map(_._2))
        }
      }
  }

  // ---- perceptual dHash near-duplicates (mm2) ---------------------------

  /** Grayscale-thumbnail decode boundary for perceptual hashing: a real
    * implementation resizes each image to 9×8 grayscale (72 values,
    * row-major); the [[StubGrayscaleDecoder]] derives a deterministic
    * fake grid from chained md5 blocks of the blob, keeping the
    * Spark-side plumbing AND the grid→dHash math real and testable. */
  trait GrayscaleDecoder extends Serializable {
    /** One 72-entry (8 rows × 9 cols, row-major, 0-255) grid per blob. */
    def decodeGrayscaleBatch(ids: Seq[Long],
        blobs: Seq[Array[Byte]]): Seq[(Long, Array[Int])]
  }

  /** Deterministic fake thumbnails: 5 chained md5 HEX blocks — h1 =
    * md5(blob), h_{k+1} = md5(h_k as UTF-8 text) — give 160 hex chars
    * = 80 bytes; the first 72 are the grid. Chaining over hex STRINGS
    * (not raw digests) keeps the oracle to `md5(varchar)`, which every
    * engine has. */
  object StubGrayscaleDecoder extends GrayscaleDecoder {
    def decodeGrayscaleBatch(ids: Seq[Long],
        blobs: Seq[Array[Byte]]): Seq[(Long, Array[Int])] =
      ids.zip(blobs).map { case (id, bytes) =>
        val blocks = Iterator.iterate(Md5.hex(Md5.digest(bytes)))(Md5.hexOf)
          .take(5).toSeq
        val hexs = blocks.mkString
        (id, Array.tabulate(72)(i =>
          Integer.parseInt(hexs.substring(2 * i, 2 * i + 2), 16)))
      }
  }

  /** Standard 64-bit difference hash: bit r·8+c set iff
    * grid[r][c] > grid[r][c+1] (each 8-pixel row compared across its 9
    * columns). Near-identical images differ in few bits; the Hamming
    * distance between dHashes is the perceptual distance. */
  def dhash64(grid: Array[Int]): Long = {
    require(grid.length == 72, s"dhash64 needs a 9x8 grid, got ${grid.length}")
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r * 9 + c) > grid(r * 9 + c + 1)) h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** (id, dhash) per media row — decode batches at the mapPartitions
    * boundary, hash in the same task; blobs never shuffle. */
  def dhashFeatures(mediaTable: DataFrame, decoder: GrayscaleDecoder,
      batchSize: Int = 64): DataFrame = {
    val spark = mediaTable.sparkSession
    import spark.implicits._
    mediaTable.select(col("id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          decoder.decodeGrayscaleBatch(batch.map(_._1), batch.map(_._2))
            .map { case (id, grid) => (id, dhash64(grid)) }
        }
      }
      .toDF("id", "dhash")
  }

  /** Image near-dup pairs with Hamming distance ≤ maxDistance over the
    * dHash — the banded 16-bit equi-join machinery of
    * [[graft.dedup.Dedup.simhashPairs]] applied to the perceptual
    * hash (same pigeonhole recall guarantee for distance ≤ 3). */
  def dhashPairs(hashes: DataFrame, maxDistance: Int = 3): DataFrame =
    graft.dedup.Dedup.simhashPairs(
      hashes.select(col("id"), col("dhash").as("simhash")), maxDistance)

  // ---- audio probing (mm4) ----------------------------------------------

  /** One probed audio item's features. A real probe reads the container
    * header (RIFF/OGG/FLAC) for rate/channels/duration and one PCM pass
    * for loudness; the stub derives all four deterministically. */
  final case class AudioFeatures(id: Long, n_bytes: Long, checksum: String,
      sample_rate: Long, n_channels: Long, duration_ms: Long,
      loudness_bucket: Long)

  /** Batch-oriented audio-decode boundary (one call per batch of
    * blobs) — the integration point for a real audio library. */
  trait AudioDecoder extends Serializable {
    def decodeAudioBatch(ids: Seq[Long], blobs: Seq[Array[Byte]]): Seq[AudioFeatures]
  }

  /** Deterministic stand-in for a real audio probe — bit-identical to
    * [[audioFeatureColumns]] (the spec asserts it): sample rate picked
    * from the four standard rates, stereo/mono, duration 0.5–120.5 s
    * spread by a prime multiplier, loudness bucketed 0–9. */
  object StubAudioDecoder extends AudioDecoder {
    def decodeAudioBatch(ids: Seq[Long], blobs: Seq[Array[Byte]]): Seq[AudioFeatures] =
      ids.zip(blobs).map { case (id, bytes) =>
        val d = Md5.digest(bytes)
        val h = Md5.top60(d)
        val rate = h % 4 match {
          case 0 => 16000L; case 1 => 22050L; case 2 => 44100L; case _ => 48000L
        }
        AudioFeatures(id, bytes.length.toLong, Md5.hex(d), rate,
          1L + (h >> 2) % 2,
          500L + (bytes.length.toLong * 977L) % 120000L,
          (h >> 3) % 10)
      }
  }

  /** Metadata path: stub audio features as pure Column expressions —
    * bit-identical to [[StubAudioDecoder]] (h is the 60-bit md5 prefix,
    * non-negative, so pmod/shiftright match Scala's % and >>). */
  def audioFeatureColumns(media: Column): Seq[(String, Column)] = {
    val hex = md5(media)
    val h = conv(substring(hex, 1, 15), 16, 10).cast(LongType)
    val rate = when(pmod(h, lit(4L)) === 0, 16000L)
      .when(pmod(h, lit(4L)) === 1, 22050L)
      .when(pmod(h, lit(4L)) === 2, 44100L)
      .otherwise(48000L)
    Seq(
      "n_bytes" -> octet_length(media).cast(LongType),
      "checksum" -> hex,
      "sample_rate" -> rate,
      "n_channels" -> (lit(1L) + pmod(shiftright(h, 2), lit(2L))),
      "duration_ms" -> (lit(500L) +
        pmod(octet_length(media).cast(LongType) * lit(977L), lit(120000L))),
      "loudness_bucket" -> pmod(shiftright(h, 3), lit(10L)))
  }

  /** Metadata-path audio probe (codegen'd, oracle-checkable). */
  def audioFeatures(mediaTable: DataFrame): DataFrame =
    mediaTable.select(col("id") +: audioFeatureColumns(col("media")).map {
      case (n, c) => c.as(n)
    }: _*)

  /** Decode path: typed mapPartitions with per-partition batching —
    * same boundary as [[decodeFeatures]]; blobs never shuffle. */
  def decodeAudioFeatures(mediaTable: DataFrame, decoder: AudioDecoder,
      batchSize: Int = 64): Dataset[AudioFeatures] = {
    val spark = mediaTable.sparkSession
    import spark.implicits._
    mediaTable.select(col("id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          decoder.decodeAudioBatch(batch.map(_._1), batch.map(_._2))
        }
      }
  }

  // ---- audio fingerprint near-dups (mm5) --------------------------------

  /** Batch-oriented audio-fingerprint boundary: one 65-entry temporal
    * energy sequence per blob (a real implementation computes
    * chromaprint-style per-window spectral energies at this exact
    * boundary; the engine only ever sees the integer sequence). */
  trait AudioEnergyDecoder extends Serializable {
    def energyBatch(ids: Seq[Long],
        blobs: Seq[Array[Byte]]): Seq[(Long, Array[Int])]
  }

  /** Deterministic stand-in energies: the chained-md5 hex device of
    * [[StubGrayscaleDecoder]] read as a 1-D sequence — 5 blocks give 80
    * byte values, the first 65 are the windows. Oracle-portable
    * (`md5(varchar)` only). */
  object StubAudioEnergyDecoder extends AudioEnergyDecoder {
    def energyBatch(ids: Seq[Long],
        blobs: Seq[Array[Byte]]): Seq[(Long, Array[Int])] =
      ids.zip(blobs).map { case (id, bytes) =>
        val blocks = Iterator.iterate(Md5.hex(Md5.digest(bytes)))(Md5.hexOf)
          .take(5).toSeq
        val hexs = blocks.mkString
        (id, Array.tabulate(65)(i =>
          Integer.parseInt(hexs.substring(2 * i, 2 * i + 2), 16)))
      }
  }

  /** 64-bit audio fingerprint: bit w set iff energy FALLS from window w
    * to w+1 (energies(w) > energies(w+1)) — the sign-of-delta coding
    * chromaprint-family fingerprints use, so near-identical audio (same
    * content, small re-encode jitter) lands within a few Hamming bits.
    * The fall convention is the cross-engine contract (mm5 oracle +
    * MultimodalSpec pin it: a rising ramp fingerprints to 0L). */
  def audioFingerprint64(energies: Array[Int]): Long = {
    require(energies.length == 65, s"fingerprint needs 65 windows, got ${energies.length}")
    var h = 0L
    var w = 0
    while (w < 64) {
      if (energies(w) > energies(w + 1)) h |= 1L << w
      w += 1
    }
    h
  }

  /** (id, afp) per audio row — decode batches at the mapPartitions
    * boundary, fingerprint in the same task; blobs never shuffle. */
  def audioFingerprintFeatures(mediaTable: DataFrame,
      decoder: AudioEnergyDecoder, batchSize: Int = 64): DataFrame = {
    val spark = mediaTable.sparkSession
    import spark.implicits._
    mediaTable.select(col("id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          decoder.energyBatch(batch.map(_._1), batch.map(_._2))
            .map { case (id, e) => (id, audioFingerprint64(e)) }
        }
      }
      .toDF("id", "afp")
  }

  /** Audio near-dup pairs with Hamming ≤ maxDistance — the banded
    * 16-bit equi-join of [[graft.dedup.Dedup.simhashPairs]] applied to
    * the audio fingerprint (same pigeonhole recall guarantee). */
  def audioFingerprintPairs(fps: DataFrame, maxDistance: Int = 3): DataFrame =
    graft.dedup.Dedup.simhashPairs(
      fps.select(col("id"), col("afp").as("simhash")), maxDistance)

  // ---- video frame sampling (mm3) ---------------------------------------

  /** Wrap a corpus as a video table: (id, media, checksum, duration_ms,
    * fps) — the blob plus the typed metadata a container header probe
    * would yield. The stub probe derives duration (1–61 s) and frame
    * rate (24 or 30) deterministically from the bytes, keeping the
    * metadata path oracle-checkable while a real probe would read the
    * container header at the same decode boundary. */
  def asVideoTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val media = asMediaTable(df, idCol, textCol)
    val hex = md5(col("media"))
    val h = conv(substring(hex, 1, 15), 16, 10).cast(LongType)
    media.select(col("id"), col("media"), hex.as("checksum"),
      // ×977 (prime) spreads the short test documents across the full
      // 1–61 s range; a real probe reads the true duration instead
      (lit(1000L) + pmod(octet_length(col("media")).cast(LongType) * lit(977L),
        lit(60000L))).as("duration_ms"),
      (lit(24L) + pmod(h, lit(2L)) * lit(6L)).as("fps"))
  }

  /** Uniform time-grid frame sampling (the CLIP-style "one frame every
    * N ms" pass): one row per sampled frame at ts = k·strideMs for
    * 0 ≤ ts < duration_ms. Pure sequence+explode on the metadata —
    * map-side, codegen'd, and the BLOB never joins the exploded rows
    * (frames fan out from the same task that holds the blob). The
    * frame_key is the stub stand-in for a decoded frame's content
    * hash: md5 chained off the blob checksum and the timestamp, so an
    * engine-portable oracle exists. */
  def sampleFrameTimes(video: DataFrame, strideMs: Long): DataFrame = {
    require(strideMs > 0, s"sampleFrameTimes stride must be positive: $strideMs")
    video.select(col("id"), col("checksum"), col("duration_ms"), col("fps"),
        explode(sequence(lit(0L), col("duration_ms") - 1,
          lit(strideMs))).as("ts_ms"))
      // ts is a stride multiple by construction, so the double divide
      // is exact and the cast lossless
      .withColumn("frame_idx", (col("ts_ms") / lit(strideMs)).cast(LongType))
      .withColumn("frame_key",
        md5(concat(col("checksum"), lit(":"), col("ts_ms").cast("string"))))
  }

  /** Frame-decode boundary: a real implementation seeks each requested
    * timestamp and decodes that frame; batching is per media row (all
    * of one video's requested frames decode in one call, so a real
    * decoder opens the container once). */
  trait FrameDecoder extends Serializable {
    /** For one blob, return one key per requested timestamp. */
    def decodeFrames(id: Long, blob: Array[Byte], tsMs: Seq[Long]): Seq[String]
  }

  /** Deterministic fake frames — bit-identical to
    * [[sampleFrameTimes]]'s metadata path (the spec asserts it). */
  object StubFrameDecoder extends FrameDecoder {
    def decodeFrames(id: Long, blob: Array[Byte], tsMs: Seq[Long]): Seq[String] = {
      val csum = Md5.hex(Md5.digest(blob))
      tsMs.map(ts => Md5.hexOf(s"$csum:$ts"))
    }
  }

  /** Decode-path twin of [[sampleFrameTimes]]: (id, ts_ms, frame_key)
    * via mapPartitions over (blob, requested timestamps) — the
    * real-decoder integration point. */
  def decodeSampledFrames(video: DataFrame, strideMs: Long,
      decoder: FrameDecoder): DataFrame = {
    val spark = video.sparkSession
    import spark.implicits._
    video.select(col("id").cast(LongType), col("media"),
        sequence(lit(0L), col("duration_ms") - 1, lit(strideMs)).as("ts"))
      .as[(Long, Array[Byte], Seq[Long])]
      .mapPartitions(_.flatMap { case (id, blob, ts) =>
        decoder.decodeFrames(id, blob, ts).zip(ts)
          .map { case (key, t) => (id, t, key) }
      })
      .toDF("id", "ts_ms", "frame_key")
  }

  // ---- video frame-sequence near-dups (mm6) ------------------------------

  /** Segment-hash decode boundary for mm6: a real implementation
    * decodes the video and perceptual-hashes each aligned segment (or
    * keyframe) into a 64-bit value; batching is per media row, so a
    * real decoder opens the container once per video. */
  trait VideoHashDecoder extends Serializable {
    /** For one blob, the content hash of each `window`-byte-aligned
      * segment, in order. */
    def segmentHashes(id: Long, blob: Array[Byte], window: Int): Seq[Long]
  }

  /** Deterministic fake — bit-identical to [[frameWindowHashes]]'s
    * column path (60-bit md5 prefix of each fixed-offset byte
    * segment; VideoDupSpec asserts the equality), so a real decoder
    * drops in behind the same schema and joins. */
  object StubVideoHashDecoder extends VideoHashDecoder {
    def segmentHashes(id: Long, blob: Array[Byte],
        window: Int): Seq[Long] = {
      val n = math.max((blob.length + window - 1) / window, 1)
      (0 until n).map { i =>
        Md5.top60(Md5.digest(java.util.Arrays.copyOfRange(blob, i * window,
          math.min((i + 1) * window, blob.length))))
      }
    }
  }

  /** Decode-path twin of [[frameWindowHashes]]: distinct (id, fhash)
    * via mapPartitions over whole blobs — the real-decoder
    * integration point for [[videoDupPairs]] (pass its output through
    * the same pair join). */
  def decodeFrameWindowHashes(media: DataFrame, window: Int,
      decoder: VideoHashDecoder): DataFrame = {
    require(window > 0, s"decodeFrameWindowHashes window must be positive: $window")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, blob) =>
        decoder.segmentHashes(id, blob, window).distinct.map(h => (id, h))
      })
      .toDF("id", "fhash")
  }

  /** Per-video CONTENT-ALIGNED frame hashes: the blob is cut into
    * fixed `window`-byte segments from the start and each segment
    * hashed (the stub decode convention: the text stands in for the
    * bitstream; a real decoder would perceptual-hash each sampled
    * frame instead — same schema, same joins). Because segments are
    * anchored at fixed offsets, a RE-ENCODED copy (identical content)
    * shares every hash and a TRIMMED copy (prefix content) shares all
    * of its own — the two re-upload shapes frame-level video dedup
    * exists to catch — while an edit loses only the segments after the
    * edit point. Returns distinct (id, fhash). */
  def frameWindowHashes(media: DataFrame, window: Int): DataFrame = {
    require(window > 0, s"frameWindowHashes window must be positive: $window")
    val lastSeg = greatest(graft.text.LanguageModel.ldiv(
      octet_length(col("media")).cast(LongType) - 1L, lit(window.toLong)),
      lit(0L))
    // the blob fans out to its segments INSIDE the task holding it
    // (explode before any exchange); only 8-byte hashes shuffle
    media.select(col("id"), col("media"),
        explode(sequence(lit(0L), lastSeg)).as("__i"))
      .select(col("id"),
        graft.dedup.Dedup.md5Long(
          substring(col("media"), (col("__i") * window + 1L).cast("int"),
            lit(window))).as("fhash"))
      .distinct()
  }

  /** Frame-sequence near-duplicate pairs: videos sharing at least
    * `num/den` of the SMALLER side's frames (containment of the
    * smaller — catches both re-uploads and trims). The join is the
    * engine's inverted-index shape: distinct frame hashes equi-join,
    * with a document-frequency cap dropping boilerplate segments
    * shared by more than `dfCap` videos (the d2 stop-shingle device —
    * template corpora repeat segments verbatim, and one hot segment
    * would go quadratic). Output: (id_a, id_b, inter, n_a, n_b),
    * id_a < id_b. */
  def videoDupPairs(media: DataFrame, window: Int = 64, num: Int = 9,
      den: Int = 10, dfCap: Int = 50): DataFrame = {
    val fr = graft.ops.StagePersists.track(frameWindowHashes(media, window))
    val sizes = fr.groupBy("id").agg(count(lit(1)).as("__n"))
    val rare = fr.join(
      fr.groupBy("fhash").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= dfCap && col("__df") >= 2)
        .select("fhash"), Seq("fhash"))
    val pairs = rare.select(col("fhash"), col("id").as("id_a"))
      .join(rare.select(col("fhash"), col("id").as("id_b")), Seq("fhash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("__n", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("__n", "n_b"), Seq("id_b"))
      .filter(col("inter") * den >= least(col("n_a"), col("n_b")) * num)
      .select("id_a", "id_b", "inter", "n_a", "n_b")
  }
}
