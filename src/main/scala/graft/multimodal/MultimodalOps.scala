package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** One media blob with typed metadata. `data` is an opaque byte
  * payload (image/audio/video container bytes); everything the engine
  * plans with lives in typed columns, never inside the blob. */
case class MediaRow(
    media_id: Long,
    kind: String, // "image" | "audio" | "video"
    data: Array[Byte],
    width: Int, // image/video pixels (0 for audio)
    height: Int,
    sample_rate: Int, // audio Hz (0 otherwise)
    n_frames: Int) // video frames / audio samples (1 for image)

/** Decoded per-item features (fixed-width vector + provenance). */
case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Int,
    features: Array[Float])

/** Multimodal-column operators for a training-data pipeline: media as
  * opaque BINARY columns with typed metadata, processed batch-wise on
  * executors via mapPartitions (the JVM analog of a vectorized pandas
  * UDF: one JVM-side function invocation per partition, streaming over
  * rows, never collecting to the driver).
  *
  * The codec is two-tier: payloads that really are media containers
  * decode through REAL JDK codecs ([[MediaCodec]] — javax.imageio for
  * PNG/JPEG, javax.sound.sampled for WAV; q182/q183 round-trip them
  * against DuckDB oracles), and opaque/non-media bytes fall back to a
  * deterministic byte-level feature extractor (rolling polynomial hash
  * per stripe), so the Spark-side contract — schema, binary column
  * handling, batch shape, skew-aware partitioning, frame-row
  * explosion — is exercised on every payload either way.
  */
object MultimodalOps extends graft.QueryModule {

  /** Declared media schema (string/binary nullable — matching the
    * case-class Encoder's view, where only primitives are non-null). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("data", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  // ---- stubbed codec ---------------------------------------------------

  /** Deterministic fake decode: splits the payload into `dim` stripes
    * and reduces each with a rolling polynomial hash scaled to [0,1).
    * Stand-in for "decode + embed" (a real system would decode pixels
    * / PCM samples here). Deterministic in the bytes — the tests and
    * any dedup built on it are reproducible. */
  private[multimodal] def stubDecode(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (bytes.isEmpty) return out
    val stripe = math.max(1, bytes.length / dim)
    var d = 0
    while (d < dim) {
      var h = 1125899906842597L
      var i = d * stripe
      val end = math.min(bytes.length, if (d == dim - 1) bytes.length else (d + 1) * stripe)
      while (i < end) { h = 31 * h + bytes(i); i += 1 }
      out(d) = math.abs(h % 1000000L).toFloat / 1000000.0f
      d += 1
    }
    out
  }

  // ---- operators -------------------------------------------------------

  /** Decode + feature-extract each blob, batch-wise per partition.
    * Image payloads that parse as a real container (PNG/JPEG via
    * javax.imageio) yield dimension + channel-mean features; audio
    * payloads that parse as WAV yield rate/length/amplitude features;
    * anything else (including the opaque document-byte payloads the
    * declared queries use) falls back to the deterministic byte-stripe
    * hash, so the operator never fails on undecodable bytes. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val real: Option[Array[Float]] = m.kind match {
          case "image" => MediaCodec.decodeImage(m.data).map { d =>
            val px = d.width.toLong * d.height
            val f = new Array[Float](dim)
            f(0) = d.width.toFloat; f(1) = d.height.toFloat
            if (px > 0 && dim >= 5) {
              f(2) = d.sumR.toFloat / px / 255f
              f(3) = d.sumG.toFloat / px / 255f
              f(4) = d.sumB.toFloat / px / 255f
            }
            f
          }
          case "audio" => MediaCodec.decodeWav(m.data).map { d =>
            val f = new Array[Float](dim)
            f(0) = d.sampleRate.toFloat; f(1) = d.nSamples.toFloat
            if (d.nSamples > 0 && dim >= 3) f(2) = d.sampleSum.toFloat / d.nSamples / 32768f
            f
          }
          case _ => None
        }
        MediaFeatures(m.media_id, m.kind, m.data.length,
          real.getOrElse(stubDecode(m.data, dim)))
      }
    }
  }

  /** Balance decode work: byte-size is the cost driver, so range-
    * repartition on (kind, payload size) — large videos spread across
    * tasks instead of hashing wherever media_id lands. At cluster scale
    * this is the difference between one straggler decoding all the 4K
    * video and an even decode wave. */
  def repartitionForDecode(media: DataFrame, partitions: Int): DataFrame =
    media.withColumn("n_bytes", length(col("data")))
      .repartitionByRange(partitions, col("kind"), col("n_bytes"))
      .drop("n_bytes")

  /** Sample every Nth frame of video rows into (media_id, frame_idx)
    * rows — pure metadata explosion (the decode of each sampled frame
    * happens downstream in extractFeatures-style batches). */
  def sampleFrames(media: DataFrame, everyN: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyN))).as("frame_idx"))

  /** Resize stub: emits a new payload of exactly the target byte size
    * (deterministic slice/pad) with updated metadata — the plumbing of
    * a thumbnailing pass without a codec. */
  def resizeStub(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val target = math.max(1, targetW * targetH / 8)
        val out = java.util.Arrays.copyOf(m.data, target)
        m.copy(data = out, width = targetW, height = targetH)
      }
    }
  }

  /** Near-dup media detection: stub features → cosine-style bucketed
    * grouping on a quantized leading coefficient. Demonstrates dedup
    * over multimodal payloads without byte-equality. */
  def featureBuckets(features: Dataset[MediaFeatures], buckets: Int = 64): DataFrame = {
    import features.sparkSession.implicits._
    features.map(f => (f.media_id, f.kind, (f.features.headOption.getOrElse(0f) * buckets).toInt))
      .toDF("media_id", "kind", "bucket")
      .groupBy("kind", "bucket")
      .agg(count(lit(1)).as("n"), collect_list("media_id").as("members"))
  }

  /** Ingest raw media files as opaque binary rows via Spark's binaryFile
    * source (path/length/modificationTime/content) — the on-ramp from a
    * filesystem/object-store media dump into the typed media table.
    * `pathGlobFilter` prunes at listing time (no content reads for
    * filtered-out files). */
  def readBinaryDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        col("path"),
        col("length").as("n_bytes"),
        col("content").as("data"))

  /** Media view over the driver's `documents` table: each document's
    * UTF-8 bytes become the opaque payload, with kind/metadata derived
    * deterministically from doc_id. This is how the declared query
    * (q64) exercises the multimodal path on REAL sfDir input — the
    * payload bytes are still fully opaque to every operator. */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    val k = pmod(col("doc_id"), lit(3))
    Tables(s, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        when(k === 0, "image").when(k === 1, "audio").otherwise("video").as("kind"),
        col("text").cast("binary").as("data"),
        when(k === 0, 64).when(k === 1, 0).otherwise(320).as("width"),
        when(k === 0, 48).when(k === 1, 0).otherwise(240).as("height"),
        when(k === 1, 16000).otherwise(0).as("sample_rate"),
        when(k === 0, lit(1))
          .when(k === 1, length(col("text").cast("binary")))
          .otherwise((lit(1) + pmod(col("doc_id"), lit(100))).cast("int")).as("n_frames"))
      .as[MediaRow]
  }

  /** q64: per-kind stats of the decoded feature rows — the whole
    * multimodal pipeline (size-aware repartition → batch decode via
    * mapPartitions → typed aggregation) with an output DuckDB can
    * recompute from byte lengths alone, so the declared query gets a
    * full oracle even though the decode itself is engine-side. */
  def mediaStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = repartitionForDecode(
      mediaFromDocuments(s, dir).toDF(),
      s.sparkContext.defaultParallelism).as[MediaRow]
    extractFeatures(media).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("n_bytes")).as("min_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        (sum(col("n_bytes")).cast("double") / count(lit(1))).as("avg_bytes"))
      .orderBy("kind")
  }

  /** q91: frame sampling as a declared query — every 7th frame index of
    * each video row, a pure metadata explosion (map-only; the sampled
    * frames' decode happens downstream in batches). The frame grid is
    * deterministic arithmetic over n_frames, so DuckDB reproduces it
    * exactly. */
  def frameSample(s: SparkSession, dir: String, everyN: Int = 7): DataFrame =
    sampleFrames(mediaFromDocuments(s, dir).toDF(), everyN)
      .orderBy("media_id", "frame_idx")

  /** q182: REAL image-codec round trip. Per document, a solid-RGB image
    * whose dimensions and fill color are arithmetic in doc_id is encoded
    * to genuine PNG bytes and decoded back — both via javax.imageio, on
    * executors, in one mapPartitions pass (encode→decode fused per row;
    * the container bytes never shuffle). The declared output reduces the
    * DECODED pixels (parsed-header dimensions, exact channel sums) per
    * (w,h) cell, which DuckDB recomputes from the same arithmetic — so
    * the oracle fails if signature/IHDR/zlib parsing or pixel recovery
    * is wrong anywhere. Per-row work is O(w·h) with w,h ≤ 15: linear in
    * documents, embarrassingly parallel, no shuffle before the 40-group
    * rollup. */
  def imageRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val decoded = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 8 + (id % 8).toInt
          val h = 8 + (id % 5).toInt
          val (r, g, b) = ((id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
          val png = MediaCodec.encodeSolidPng(w, h, r, g, b)
          val d = MediaCodec.decodeImage(png)
            .getOrElse(throw new IllegalStateException(s"PNG decode failed for doc $id"))
          (id, d.width, d.height, d.sumR, d.sumG, d.sumB)
        }
      }.toDF("doc_id", "w", "h", "sum_r", "sum_g", "sum_b")
    decoded.groupBy(col("w"), col("h"))
      .agg(
        count(lit(1)).as("n_images"),
        sum("sum_r").as("tot_r"),
        sum("sum_g").as("tot_g"),
        sum("sum_b").as("tot_b"))
      .orderBy("w", "h")
  }

  /** q183: REAL audio-codec round trip. Per document, a deterministic
    * s16le mono clip (length and samples arithmetic in doc_id) is
    * wrapped in a genuine RIFF/WAVE container and decoded back — both
    * via javax.sound.sampled on executors, fused per row. The declared
    * output groups on the DECODED header fields (rate/channels/bits —
    * constants the oracle asserts, so header parsing is checked) and
    * clip length, with the exact decoded-sample sum per group that
    * DuckDB recomputes from the generating formula. Linear, map-only
    * until a ≤32-group rollup. */
  def audioRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val decoded = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = 32 + (id % 32).toInt
          val samples = Array.tabulate(n)(i => (((id * 31 + i * 17) % 2003) - 1001).toShort)
          val wav = MediaCodec.encodeWav(samples)
          val d = MediaCodec.decodeWav(wav)
            .getOrElse(throw new IllegalStateException(s"WAV decode failed for doc $id"))
          (id, d.sampleRate, d.channels, d.bitsPerSample, d.nSamples, d.sampleSum)
        }
      }.toDF("doc_id", "sample_rate", "channels", "bits", "n_samples", "s_sum")
    decoded.groupBy(col("sample_rate"), col("channels"), col("bits"), col("n_samples"))
      .agg(count(lit(1)).as("n_clips"), sum("s_sum").as("tot_amp"))
      .orderBy("n_samples")
  }

  /** q201: LOSSY image-codec round trip — JPEG through the same
    * javax.imageio path as q182's PNG (SPI registry is ImageIO's own,
    * resolved once per class; the q183 ServiceLoader lesson applies to
    * javax.sound only). JPEG quantizes, so exact pixel sums can't be
    * the oracle; instead each row pins what lossy compression MUST
    * preserve: container magic (FF D8 SOI), decoded dimensions equal
    * to the encoded ones, and per-channel MEANS within ±4 of the solid
    * fill (measured worst deviation 3.0 across the full id→color grid
    * on this JDK's encoder — YCbCr rounding + DC quantization; a codec
    * regression deviates by tens). DuckDB predicts (dims, n, true,
    * true) from the same id arithmetic. Same scale shape as q182:
    * fused encode→decode per row, map-only until a 40-group rollup. */
  def jpegRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val decoded = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 16 + (id % 8).toInt
          val h = 16 + (id % 5).toInt
          val (r, g, b) = ((id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
          val jpg = MediaCodec.encodeSolidJpeg(w, h, r, g, b)
          val d = MediaCodec.decodeImage(jpg)
            .getOrElse(throw new IllegalStateException(s"JPEG decode failed for doc $id"))
          val n = d.width.toLong * d.height
          // ±8, not the worst case measured on one JDK (3.0): the bound
          // must hold for any conformant encoder, and a solid fill's
          // mean error is bounded by YCbCr round-trip rounding (±1 per
          // conversion leg) plus DC quantization of each 8×8 block —
          // luma/chroma DC steps at ImageIO's default 0.75 quality are
          // ≤ 2/FDCT-scale ≈ 2, so ≤ ~6 total through the color
          // transform; 8 leaves headroom for a different JDK/ImageIO
          // plugin's tables while a real codec regression (wrong
          // channel order, dropped plane) still deviates by tens. If
          // color_ok ever reads false here, suspect the ImageIO JPEG
          // plugin's quantization tables before the graft codec path.
          def near(sum: Long, v: Int): Boolean = math.abs(sum.toDouble / n - v) <= 8.0
          val containerOk = jpg.length > 2 &&
            (jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8 && // SOI magic
            d.width == w && d.height == h
          (id, w, h, containerOk, near(d.sumR, r) && near(d.sumG, g) && near(d.sumB, b))
        }
      }.toDF("doc_id", "w", "h", "container_ok", "color_ok")
    decoded.groupBy(col("w"), col("h"))
      .agg(count(lit(1)).as("n_images"),
        min(col("container_ok")).as("container_ok"),
        min(col("color_ok")).as("color_ok"))
      .orderBy("w", "h")
  }

  /** The payload is the document text's UTF-8 bytes, so DuckDB's byte
    * length (strlen) reproduces n_bytes exactly; kind = doc_id mod 3. */
  val defs: Seq[QueryDef] = Seq(
    // lossy codec: the oracle predicts dimensions + counts and asserts
    // the container/color pins hold (see jpegRoundtrip scaladoc)
    QueryDef("q201_jpeg_roundtrip", jpegRoundtrip(_, _), Some(
      """SELECT CAST(16 + doc_id % 8 AS INT) AS w,
        |       CAST(16 + doc_id % 5 AS INT) AS h,
        |       count(*) AS n_images,
        |       true AS container_ok, true AS color_ok
        |FROM documents GROUP BY 1, 2 ORDER BY w, h""".stripMargin)),
    QueryDef("q64_media_stats", mediaStats(_, _), Some(
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        | count(*) AS n_media,
        | CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        | CAST(min(strlen(text)) AS INT) AS min_bytes,
        | CAST(max(strlen(text)) AS INT) AS max_bytes,
        | CAST(sum(strlen(text)) AS DOUBLE) / count(*) AS avg_bytes
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin)),
    // video rows are doc_id % 3 = 2 with n_frames = 1 + doc_id % 100;
    // Spark's sequence(0, n-1, 7) and DuckDB's range(0, n, 7) generate
    // the same grid (inclusive vs exclusive upper bound)
    QueryDef("q91_frame_sample", frameSample(_, _), Some(
      """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx
        |FROM documents, LATERAL unnest(range(0, 1 + doc_id % 100, 7)) AS t(i)
        |WHERE doc_id % 3 = 2
        |ORDER BY media_id, frame_idx""".stripMargin)),
    // a solid (w,h) image filled with (r,g,b) decodes to channel sums
    // w*h*r etc. — the oracle replays the generating arithmetic; any
    // codec mis-parse (dims, pixel values) breaks the group sums
    QueryDef("q182_image_roundtrip", imageRoundtrip(_, _), Some(
      """SELECT CAST(8 + doc_id % 8 AS INT) AS w,
        |       CAST(8 + doc_id % 5 AS INT) AS h,
        |       count(*) AS n_images,
        |       CAST(sum((8 + doc_id % 8) * (8 + doc_id % 5) * (doc_id % 256)) AS BIGINT) AS tot_r,
        |       CAST(sum((8 + doc_id % 8) * (8 + doc_id % 5) * ((doc_id * 7) % 256)) AS BIGINT) AS tot_g,
        |       CAST(sum((8 + doc_id % 8) * (8 + doc_id % 5) * ((doc_id * 13) % 256)) AS BIGINT) AS tot_b
        |FROM documents GROUP BY 1, 2 ORDER BY w, h""".stripMargin)),
    // the decoded header fields are asserted as constants (16000 Hz /
    // mono / 16-bit — what the engine encoded); the per-length sample
    // sums replay the generating formula sample_i = (id*31+i*17)%2003-1001
    QueryDef("q183_audio_roundtrip", audioRoundtrip(_, _), Some(
      """WITH per_doc AS (
        |  SELECT d.doc_id,
        |         32 + d.doc_id % 32 AS n_samples,
        |         sum((d.doc_id * 31 + t.i * 17) % 2003 - 1001) AS s_sum
        |  FROM documents d, LATERAL unnest(range(32 + d.doc_id % 32)) AS t(i)
        |  GROUP BY 1, 2)
        |SELECT CAST(16000 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(16 AS INT) AS bits,
        |       CAST(n_samples AS INT) AS n_samples,
        |       count(*) AS n_clips,
        |       CAST(sum(s_sum) AS BIGINT) AS tot_amp
        |FROM per_doc GROUP BY 1, 2, 3, 4 ORDER BY n_samples""".stripMargin)))

  /** Deterministic synthetic media table (no external fixtures in the
    * container): payload bytes derived from media_id. */
  def synthesize(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id0 =>
      val id = id0
      val kind = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val len = 256 + ((id * 2654435761L + seed) % 768).toInt.abs
      val bytes = Array.tabulate(len)(i => ((id * 31 + i * 7 + seed) % 256).toByte)
      kind match {
        case "image" => MediaRow(id, kind, bytes, 64, 48, 0, 1)
        case "audio" => MediaRow(id, kind, bytes, 0, 0, 16000, len)
        case _ => MediaRow(id, kind, bytes, 320, 240, 0, 1 + (id % 100).toInt)
      }
    }
  }
}
