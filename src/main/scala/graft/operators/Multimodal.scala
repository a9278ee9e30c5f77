package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing: media payloads ride through the engine as
  * opaque `binary` columns with typed metadata extracted alongside.
  *
  * The `documents` fixture has no real media, so the payload is the
  * UTF-8 text bytes and "decode" derives deterministic fake dimensions
  * from the payload's SHA-256 — a STUB standing in for an image/audio
  * codec. Everything around the stub is the real thing: binary column
  * handling, metadata projection, per-partition batched decode with a
  * typed schema, and partition-preserving plans (no shuffle until an
  * aggregate asks for one).
  *
  * Each modality also has a REAL JDK-native codec twin over a
  * synthetic media corpus with a closed-form content spec, so the
  * actual decoder is oracle-gated: images via `javax.imageio`
  * ([[decodeImages]]/[[resizeImages]]/[[imageAHash]]), audio via
  * `javax.sound.sampled` ([[decodeWav]], q154), and multi-frame video
  * via `ImageReader` frame seeks over animated GIF containers
  * ([[sampleGifFrames]], q172).
  */
object Multimodal {

  /** q30 — metadata projection over binary payloads: byte length,
    * content hash, and decoded (stubbed) width/height/frame-count.
    * Pure per-row map work — scales linearly, no shuffle.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    def hseg(start: Int) = conv(substring(col("sha"), start, 6), 16, 10).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha"))
      .select(col("doc_id"), col("n_bytes"), col("sha"),
        (lit(64) + hseg(1) % 1217).as("width"),
        (lit(64) + hseg(7) % 961).as("height"),
        (lit(1) + hseg(13) % 32).as("n_frames"))
      .orderBy("doc_id")
  }

  /** A decoded media record produced by [[decodeFeatures]]. */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Int, width: Int, height: Int,
      histogram: Array[Double])

  /** Per-partition batched decode of binary payloads into typed feature
    * records — the Scala analogue of an Arrow-batched decode UDF: one
    * decoder instantiation per partition (the expensive part for a real
    * codec), then a streamed per-record decode.
    *
    * STUB: a real deployment would replace `decodeOne`'s body with an
    * actual codec call (JNI image decode, audio resample, frame
    * sampling). The fake is deterministic: dimensions from SHA-256
    * bytes, an 8-bin byte histogram (each bin count / total — a single
    * exact division) as the "feature vector".
    */
  def decodeFeatures(payloads: DataFrame): Dataset[MediaFeatures] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition "decoder" setup happens here, once
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, bytes) =>
          val sha = digest.digest(bytes) // STUB decode: dims from hash
          val w = 64 + (((sha(0) & 0xff) << 8 | (sha(1) & 0xff)) % 1217)
          val h = 64 + (((sha(2) & 0xff) << 8 | (sha(3) & 0xff)) % 961)
          val bins = new Array[Double](8)
          bytes.foreach(b => bins((b & 0xff) >> 5) += 1.0)
          val total = math.max(bytes.length, 1).toDouble
          MediaFeatures(id, bytes.length, w, h, bins.map(_ / total))
        }
      }
  }

  /** A resize plan + result for one record: stubbed decode dims scaled
    * into a bounding box, aspect preserved.
    */
  final case class ResizedMedia(
      doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int, scale: Double)

  /** Resize stage over decoded features: fit each record's (stub)
    * dimensions into `maxW × maxH` preserving aspect ratio. Per-record
    * typed map — partition-preserving, no shuffle; a real deployment
    * swaps the arithmetic for the codec's resample call.
    */
  def resizeFeatures(
      feats: Dataset[MediaFeatures], maxW: Int, maxH: Int): Dataset[ResizedMedia] = {
    val spark = feats.sparkSession
    import spark.implicits._
    feats.map { f =>
      val s = math.min(1.0, math.min(maxW.toDouble / f.width, maxH.toDouble / f.height))
      ResizedMedia(f.doc_id, f.width, f.height,
        math.max(1, math.floor(f.width * s).toInt),
        math.max(1, math.floor(f.height * s).toInt), s)
    }
  }

  /** One sampled frame: per-frame payload hash stands in for decoded
    * frame bytes.
    */
  final case class FrameSample(
      doc_id: Long, frame_idx: Int, n_frames: Int, frame_sha: String)

  /** Frame-sampling stage: emit ≤ `perDoc` evenly-spaced frame records
    * per payload (frame count from the stub decode). The generator runs
    * per partition with one digest instance — the 1→N row expansion is
    * local (flatMap, no shuffle), so downstream per-frame transforms
    * parallelize over the exploded records. The REAL codec twin is
    * [[sampleGifFrames]] (q172): same spacing rule, actual
    * `javax.imageio` frame seeks over multi-frame containers.
    */
  def sampleFrames(payloads: DataFrame, perDoc: Int): Dataset[FrameSample] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
        it.flatMap { case (id, bytes) =>
          val sha = digest.digest(bytes)
          // same stub as mediaMeta's n_frames: hex chars 13..18 of the
          // SHA-256 = bytes 6..8 → 1 + (value % 32)
          val nFrames = 1 + (((sha(6) & 0xff) << 16 | (sha(7) & 0xff) << 8 |
            (sha(8) & 0xff)) % 32)
          val take = math.min(perDoc, nFrames)
          (0 until take).map { i =>
            val frameIdx = (i.toLong * nFrames / take).toInt // even spacing
            digest.update(bytes)
            digest.update(java.nio.ByteBuffer.allocate(4).putInt(frameIdx).array())
            FrameSample(id, frameIdx, nFrames, hex(digest.digest()))
          }
        }
      }
  }

  /** A REAL decoded image record produced by [[decodeImages]]. */
  final case class ImageFeatures(
      doc_id: Long, n_bytes: Int, decode_ok: Boolean,
      width: Int, height: Int, luma_hist: Array[Double])

  /** REAL image decode — `javax.imageio` (JDK-native PNG/BMP/GIF/JPEG,
    * zero external dependencies), upgrading the stub boundary for
    * actual image payloads: width/height from the decoded raster and an
    * 8-bin LUMINANCE histogram (integer BT.601 luma, one closing
    * division per bin — deterministic arithmetic end to end; PNG/BMP/
    * GIF decode losslessly, so the features are bit-reproducible).
    *
    * The sandbox contract a 100 TB scan needs: a payload that is NOT a
    * decodable image yields `decode_ok = false` with zeroed features —
    * the quarantine flag — never an exception, because one poisoned
    * record must not kill the job. Per-partition init disables
    * ImageIO's DISK cache (decode stays in-memory; the default spills
    * every read to a temp file). Plan shape: per-partition typed map,
    * no shuffle — identical to [[decodeFeatures]], which remains the
    * stub twin for the synthetic text-byte fixture.
    */
  def decodeImages(payloads: DataFrame): Dataset[ImageFeatures] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition init
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          img match {
            case Some(im) =>
              val w = im.getWidth
              val h = im.getHeight
              val bins = new Array[Double](8)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = im.getRGB(x, y)
                  val luma = (299 * ((rgb >> 16) & 0xff) +
                    587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
                  bins(luma >> 5) += 1.0
                  x += 1
                }
                y += 1
              }
              val total = (w.toLong * h).toDouble
              ImageFeatures(id, bytes.length, decode_ok = true, w, h,
                bins.map(_ / total))
            case None =>
              ImageFeatures(id, bytes.length, decode_ok = false, 0, 0,
                new Array[Double](8))
          }
        }
      }
  }

  /** A really-resized image: output dims + the resampled pixel hash
    * (the determinism witness a golden spec pins).
    */
  final case class ResizedImage(
      doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int, px_sha: String)

  /** REAL resize over image payloads: decode, fit into `maxW × maxH`
    * preserving aspect (the same arithmetic as the stub
    * [[resizeFeatures]]), NEAREST-NEIGHBOR resample — chosen over
    * area/bilinear because it is exact integer index arithmetic, so the
    * resampled pixels (hashed into `px_sha`) are bit-reproducible on
    * any JVM. Non-images are dropped (the decode stage's quarantine
    * flag routes them; resize is downstream of that decision).
    * Per-record typed map, partition-preserving, no shuffle.
    */
  def resizeImages(payloads: DataFrame, maxW: Int, maxH: Int): Dataset[ResizedImage] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        it.flatMap { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          img.map { im =>
            val w = im.getWidth
            val h = im.getHeight
            val s = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
            val ow = math.max(1, math.floor(w * s).toInt)
            val oh = math.max(1, math.floor(h * s).toInt)
            val px = java.nio.ByteBuffer.allocate(ow * oh * 3)
            var y = 0
            while (y < oh) {
              val sy = (y.toLong * h / oh).toInt // nearest-neighbor index
              var x = 0
              while (x < ow) {
                val rgb = im.getRGB((x.toLong * w / ow).toInt, sy)
                px.put(((rgb >> 16) & 0xff).toByte)
                  .put(((rgb >> 8) & 0xff).toByte).put((rgb & 0xff).toByte)
                x += 1
              }
              y += 1
            }
            ResizedImage(id, w, h, ow, oh,
              digest.digest(px.array()).map(b => f"$b%02x").mkString)
          }.iterator
        }
      }
  }

  /** A 64-bit perceptual average-hash of a decoded image. */
  final case class ImageHash(doc_id: Long, decode_ok: Boolean, ahash: Long)

  /** PERCEPTUAL image hash (aHash): decode, nearest-neighbor downsample
    * to an 8×8 luma grid (exact integer indices, as [[resizeImages]]),
    * then one bit per cell — set iff `64·luma > Σluma` (the mean
    * comparison kept in integer space, no division). Visually-identical
    * images — recompressions, small edits, resizes — land within a few
    * bits; unrelated images differ in ~32. Map-only, no shuffle; the
    * 64-bit signature is the image twin of q23's text SimHash.
    */
  def imageAHash(payloads: DataFrame): Dataset[ImageHash] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          img match {
            case Some(im) =>
              val w = im.getWidth
              val h = im.getHeight
              val luma = new Array[Long](64)
              var i = 0
              while (i < 64) {
                val rgb = im.getRGB(((i % 8).toLong * w / 8).toInt,
                  ((i / 8).toLong * h / 8).toInt)
                luma(i) = (299 * ((rgb >> 16) & 0xff) +
                  587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
                i += 1
              }
              val total = luma.sum
              var hash = 0L
              i = 0
              while (i < 64) {
                if (64L * luma(i) > total) hash |= (1L << i)
                i += 1
              }
              ImageHash(id, decode_ok = true, hash)
            case None => ImageHash(id, decode_ok = false, 0L)
          }
        }
      }
  }

  /** Near-duplicate IMAGE pairs: banded Hamming search over the aHash —
    * the q22→q24 band-then-verify discipline applied to the image
    * signature. The 64-bit hash splits into 8 exact-match 8-bit bands;
    * by pigeonhole any pair within Hamming distance ≤ 7 collides on at
    * least one band, so recall is COMPLETE for the default radius —
    * never an all-pairs scan. Candidates verify with one codegen
    * `bit_count(xor)` per pair. Non-decodable payloads are quarantined
    * upstream by `decode_ok`.
    *
    * Scale shape: signature is map-only; the band self-join shuffles
    * (band_id, band_key) with shuffle-hash on both sides (exchange
    * reuse, the q22 choice); comparisons are per-bucket occupancy,
    * bounded exactly like the text LSH path.
    */
  def imageNearDupPairs(payloads: DataFrame, maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7,
      "8 exact-match bands guarantee recall only to Hamming distance 7")
    val h = imageAHash(payloads).toDF().filter(col("decode_ok"))
      .select(col("doc_id"), col("ahash"))
    val bands = h.select(col("doc_id"), col("ahash"),
      explode(sequence(lit(0), lit(7))).as("band_id"))
      .withColumn("band_key",
        expr("shiftrightunsigned(ahash, band_id * 8) & 255L"))
    bands.alias("a").hint("shuffle_hash")
      .join(bands.alias("b").hint("shuffle_hash"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ahash").as("ha"), col("b.ahash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Binary-payload view of the documents table (text bytes as media). */
  def payloads(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** q154 PCM sample rate (8 kHz telephony mono — 125 µs per frame,
    * so frame→duration arithmetic is exact in integer microseconds).
    */
  val WavRate = 8000

  /** Deterministic 8-bit unsigned PCM mono WAV payload for `doc_id`:
    * a 44-byte RIFF header + a sawtooth whose length, step, and phase
    * derive from the id — `n = 800 + (id·37) mod 1600` frames,
    * sample(i) = `(128 + (1 + id mod 13)·i + id·31) mod 256`. The
    * closed form is what lets the REAL decode be oracle-gated: DuckDB
    * regenerates the samples analytically and must agree with what
    * `javax.sound.sampled` reads back out of the container.
    */
  def wavBytes(id: Long): Array[Byte] = {
    val n = (800L + java.lang.Math.floorMod(id * 37L, 1600L)).toInt
    val step = 1L + java.lang.Math.floorMod(id, 13L)
    val base = id * 31L
    val bb = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(WavRate).putInt(WavRate) // byte rate = frame rate at 8-bit mono
      .putShort(1).putShort(8) // block align, bits per sample
      .put("data".getBytes("US-ASCII")).putInt(n)
    var i = 0
    while (i < n) {
      bb.put(java.lang.Math.floorMod(128L + step * i + base, 256L).toByte)
      i += 1
    }
    bb.array()
  }

  /** Synthetic audio-payload table: one WAV per document id (the
    * documents fixture has no real media — the audio twin of
    * [[payloads]]). Map-only typed generation, partition-preserving.
    */
  def wavPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, wavBytes(id))).toDF("doc_id", "payload")
  }

  /** A REAL decoded audio record produced by [[decodeWav]]. */
  final case class AudioFeatures(
      doc_id: Long, decode_ok: Boolean, n_bytes: Int, sample_rate: Int,
      channels: Int, bits: Int, n_frames: Long, duration_us: Long,
      peak_dev: Long, sum_dev: Long, checksum: Long)

  /** REAL audio decode — `javax.sound.sampled.AudioSystem` (JDK-native
    * WAV/PCM, zero external dependencies), the audio twin of
    * [[decodeImages]]: format metadata (rate/channels/bit depth) and
    * frame count from the parsed RIFF container, duration in exact
    * integer microseconds, and integer loudness features over the
    * decoded samples — peak and summed deviation from the 8-bit
    * midpoint plus a position-weighted checksum (Σ(i+1)·vᵢ, the
    * witness that the decoded BYTES, not just their count, are right).
    *
    * The quarantine contract of the 100 TB scan ([[decodeImages]]):
    * a payload that is not decodable audio — truncated header, wrong
    * magic, non-PCM garbage — yields `decode_ok = false` with zeroed
    * features, never an exception. Non-8-bit or multi-channel streams
    * also quarantine: the integer feature definitions are specific to
    * 8-bit unsigned mono, and a lying header must not produce
    * plausible-looking numbers. Per-partition typed map, no shuffle.
    */
  def decodeWav(payloads: DataFrame): Dataset[AudioFeatures] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val decoded =
            try {
              val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val fmt = in.getFormat
              if (fmt.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED ||
                fmt.getSampleSizeInBits != 8 || fmt.getChannels != 1) None
              else {
                val data = in.readAllBytes()
                var peak = 0L
                var sumDev = 0L
                var cks = 0L
                var i = 0
                while (i < data.length) {
                  val v = (data(i) & 0xff).toLong
                  val dev = math.abs(v - 128L)
                  if (dev > peak) peak = dev
                  sumDev += dev
                  cks += (i + 1) * v
                  i += 1
                }
                val rate = fmt.getSampleRate.toInt
                Some(AudioFeatures(id, decode_ok = true, bytes.length, rate,
                  fmt.getChannels, fmt.getSampleSizeInBits, data.length.toLong,
                  data.length.toLong * 1000000L / rate, peak, sumDev, cks))
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(
            AudioFeatures(id, decode_ok = false, bytes.length, 0, 0, 0, 0L,
              0L, 0L, 0L, 0L))
        }
      }
  }

  /** q154 — audio audit over the synthetic WAV corpus: REAL container
    * decode per payload, gated against DuckDB's analytic regeneration
    * of the same samples. Map-only until the final presentation sort.
    */
  def audioAudit(spark: SparkSession, dir: String): DataFrame =
    decodeWav(wavPayloads(spark, dir)).toDF().orderBy("doc_id")

  /** Samples per q208 analysis window. */
  val AudioWin = 200

  /** One windowed-feature row from [[windowAudio]]. */
  final case class AudioWindows(
      doc_id: Long, win_idx: Int, decode_ok: Boolean, n_samples: Long,
      sum_dev: Long, sum_sq: Long, crossings: Long)

  /** q208 — windowed AUDIO FEATURE EXTRACTION (the DSP step past
    * q154's whole-file audit): the real `javax.sound` decode cut into
    * [[AudioWin]]-sample analysis windows, each reporting integer
    * energy features — Σ|v−128| (mean-absolute loudness), Σ(v−128)²
    * (the RMS energy numerator, kept as the exact integer instead of
    * the libm sqrt) and the zero-crossing count (the classic
    * voiced/unvoiced + spectral-centroid proxy) — the frame-level
    * feature table a speech-data pipeline filters on (silence trims,
    * clipping detection, tone/DTMF screens) before paying for a real
    * acoustic model. Crossings count strict sign flips WITHIN the
    * window (windows are self-contained — no cross-window state, so
    * the row set is embarrassingly parallel).
    *
    * Determinism: every feature is an exact integer; the oracle
    * regenerates the samples analytically (the wavBytes closed form)
    * and computes identical window sums.
    *
    * Scale shape: per-partition typed flatMap (one decode per payload,
    * ≤ n/[[AudioWin]] + 1 rows out), no shuffle until the presentation
    * sort. Quarantine: undecodable/non-8-bit-mono payloads yield ONE
    * `decode_ok = false` row (win_idx −1), never an exception.
    */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame =
    windowAudio(wavPayloads(spark, dir), AudioWin).toDF()
      .orderBy("doc_id", "win_idx")

  def windowAudio(payloads: DataFrame, win: Int): Dataset[AudioWindows] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val decoded: Option[Seq[AudioWindows]] =
            try {
              val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val fmt = in.getFormat
              if (fmt.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED ||
                fmt.getSampleSizeInBits != 8 || fmt.getChannels != 1) None
              else {
                val data = in.readAllBytes()
                val out = Seq.newBuilder[AudioWindows]
                var start = 0
                var w = 0
                while (start < data.length) {
                  val end = math.min(start + win, data.length)
                  var sumDev = 0L
                  var sumSq = 0L
                  var crossings = 0L
                  var prev = 0L
                  var i = start
                  while (i < end) {
                    val d = (data(i) & 0xff).toLong - 128L
                    sumDev += math.abs(d)
                    sumSq += d * d
                    if (i > start && d * prev < 0L) crossings += 1
                    prev = d
                    i += 1
                  }
                  out += AudioWindows(id, w, decode_ok = true,
                    (end - start).toLong, sumDev, sumSq, crossings)
                  start = end
                  w += 1
                }
                Some(out.result())
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(Seq(
            AudioWindows(id, -1, decode_ok = false, 0L, 0L, 0L, 0L)))
        }
      }
  }

  /** q217 Goertzel probe bins over an [[AudioWin]]-sample window: bin k
    * probes k·[[WavRate]]/[[AudioWin]] Hz (= k·40 Hz). Three spread
    * probes — the DTMF-style fixed-frequency detection shape.
    */
  val GoertzelBins: Seq[Int] = Seq(8, 16, 32)

  /** The Goertzel coefficients 2·cos(2πk/W), computed ONCE here and
    * shared as double literals by the Scala recursion and the oracle
    * text (Double.toString round-trips, so both engines hold the same
    * bits — the cross-engine contract the recursion's determinism
    * rests on).
    */
  val GoertzelC: Seq[Double] =
    GoertzelBins.map(k => 2.0 * math.cos(2.0 * math.Pi * k / AudioWin))

  /** W² — the q217 power normalizer (see [[audioTones]]). */
  val WinSq: Double = AudioWin.toDouble * AudioWin

  /** One tone-probe row of [[toneWindows]]. */
  final case class ToneWindows(
      doc_id: Long, win_idx: Int, decode_ok: Boolean, n_frames: Long,
      p_bin8: Double, p_bin16: Double, p_bin32: Double,
      dominant_bin: Int, dominant_hz: Int)

  /** q217 — GOERTZEL tone detection over the real audio decode: the
    * frequency-domain step past q208's time-domain energy features.
    * Each FULL [[AudioWin]]-sample window runs the Goertzel recursion
    * `s = x + c·s1 − s2` once per probe bin (the O(W) single-bin DFT —
    * what a telephony pipeline runs for DTMF/dial-tone detection
    * instead of a full FFT) and reports the three probe powers
    * `s1² + s2² − c·s1·s2` plus the dominant bin/Hz (argmax, ties to
    * the lowest bin). The fixture sawtooths have real harmonic
    * structure, so dominance varies with the id-derived period.
    *
    * Determinism: the recursion is a fixed-order IEEE chain
    * `((x + (c·s1)) − s2)` over exact integer-derived samples with the
    * SHARED [[GoertzelC]] literals; the oracle replays the identical
    * chain over the analytically-regenerated samples (recursive CTE,
    * one row per (doc, window) per step), so pre-round values are
    * bit-equal and round 6 is belt-and-braces. Partial trailing
    * windows are skipped (a 120-sample window's bin-k frequency is not
    * the full window's — the production contract is fixed-length
    * analysis frames).
    *
    * Scale shape: per-partition decode + O(bins·W) arithmetic per
    * window, no shuffle before the presentation sort. Not
    * SQL-expressible (codec call — the oracle regenerates, which would
    * not exercise the decoder).
    */
  def audioTones(spark: SparkSession, dir: String): DataFrame =
    toneWindows(wavPayloads(spark, dir), AudioWin).toDF()
      // rounding happens HERE, engine-side: Spark round ↔ DuckDB round
      // is the proven cross-engine pair; the typed rows carry the raw
      // bit-exact recursion outputs
      // powers normalized by W²: the raw |DFT|² runs to ~6·10⁷, where
      // 6 dp exceeds the double mantissa and the engines' round
      // algorithms can disagree on the last grain; the normalized
      // magnitude stays ≤ ~4·10³ (10 significant digits, safe)
      .select(col("doc_id"), col("win_idx"), col("decode_ok"),
        col("n_frames"),
        round(col("p_bin8") / lit(WinSq), 6).as("p_bin8"),
        round(col("p_bin16") / lit(WinSq), 6).as("p_bin16"),
        round(col("p_bin32") / lit(WinSq), 6).as("p_bin32"),
        col("dominant_bin"), col("dominant_hz"))
      .orderBy("doc_id", "win_idx")

  def toneWindows(payloads: DataFrame, win: Int): Dataset[ToneWindows] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val cs = GoertzelC.toArray
    val bins = GoertzelBins.toArray
    val rate = WavRate
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val decoded: Option[Seq[ToneWindows]] =
            try {
              val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val fmt = in.getFormat
              if (fmt.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED ||
                fmt.getSampleSizeInBits != 8 || fmt.getChannels != 1) None
              else {
                val data = in.readAllBytes()
                val out = Seq.newBuilder[ToneWindows]
                var start = 0
                var w = 0
                while (start + win <= data.length) { // full windows only
                  val p = new Array[Double](cs.length)
                  var b = 0
                  while (b < cs.length) {
                    val c = cs(b)
                    var s1 = 0.0
                    var s2 = 0.0
                    var i = start
                    while (i < start + win) {
                      val x = ((data(i) & 0xff) - 128).toDouble
                      val s = (x + (c * s1)) - s2
                      s2 = s1
                      s1 = s
                      i += 1
                    }
                    // clamp: |DFT|² is ≥ 0 mathematically; float noise
                    // near zero must not leak a −0.000000 into the gate
                    p(b) = math.max(((s1 * s1) + (s2 * s2)) - ((c * s1) * s2),
                      0.0)
                    b += 1
                  }
                  // argmax, ties to the lowest bin
                  var best = 0
                  var bi = 1
                  while (bi < p.length) {
                    if (p(bi) > p(best)) best = bi
                    bi += 1
                  }
                  out += ToneWindows(id, w, decode_ok = true, win.toLong,
                    p(0), p(1), p(2),
                    bins(best), bins(best) * rate / win)
                  start += win
                  w += 1
                }
                Some(out.result())
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(Seq(
            ToneWindows(id, -1, decode_ok = false, 0L, 0.0, 0.0, 0.0, 0, 0)))
        }
      }
  }

  /** Frames sampled per video payload by q172 (evenly spaced over the
    * container's frame count, the [[sampleFrames]] spacing rule).
    */
  val VideoPerDoc = 4

  /** Deterministic animated-GIF payload for `doc_id`: `2 + id mod 7`
    * full-size frames of `(8 + id mod 9) × (6 + id mod 5)` pixels on a
    * 256-entry grayscale palette; pixel `p` (row-major) of frame `k`
    * holds gray `(id·31 + k·17 + p) mod 256`. The closed form is what
    * lets the REAL multi-frame decode be oracle-gated, exactly like
    * [[wavBytes]]: DuckDB regenerates every sampled frame's features
    * analytically and must agree with what `javax.imageio`'s GIF
    * reader seeks back out of the container. GIF is lossless and the
    * indexed palette maps gray k → (k,k,k), so the BT.601 luma of a
    * decoded pixel equals its palette index exactly
    * ((299+587+114)·v / 1000 = v).
    */
  def gifBytes(id: Long): Array[Byte] = {
    val n = (2 + java.lang.Math.floorMod(id, 7L)).toInt
    val w = (8 + java.lang.Math.floorMod(id, 9L)).toInt
    val h = (6 + java.lang.Math.floorMod(id, 5L)).toInt
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var k = 0
      while (k < n) {
        val im = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        val raster = im.getRaster
        var p = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0,
              java.lang.Math.floorMod(id * 31L + k * 17L + p, 256L).toInt)
            p += 1
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(im, null, null), null)
        k += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** Synthetic video-payload table: one animated GIF per document id
    * (the video twin of [[wavPayloads]]). Map-only typed generation.
    */
  def gifPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, gifBytes(id))).toDF("doc_id", "payload")
  }

  /** One REALLY-decoded sampled video frame from [[sampleGifFrames]]. */
  final case class VideoFrames(
      doc_id: Long, frame_idx: Int, n_frames: Int, width: Int, height: Int,
      decode_ok: Boolean, sum_luma: Long, checksum: Long)

  /** REAL video frame sampling — `javax.imageio.ImageReader` over
    * multi-frame GIF containers (JDK-native, zero external deps),
    * retiring the [[sampleFrames]] hash stub's decode: the frame count
    * comes from the container directory (`getNumImages(true)`), and
    * ≤ `perDoc` evenly-spaced frames are SEEKED (`reader.read(idx)` —
    * random access, not a sequential drain) and decoded to integer
    * luma features: Σ luma plus a position-weighted checksum
    * (Σ(p+1)·luma, the q154 witness that the decoded PIXELS, not just
    * the frame geometry, are right).
    *
    * Quarantine contract ([[decodeImages]]/[[decodeWav]]): a payload
    * that is not a decodable container — no registered reader,
    * truncated stream, corrupt LZW mid-frame — yields ONE
    * `decode_ok = false` row (frame_idx −1, zeroed features), never an
    * exception; a poisoned record must not kill the 100 TB scan.
    *
    * Scale shape: per-partition typed flatMap with one reader per
    * payload and the ImageIO disk cache off — the 1→k row expansion
    * is local, no shuffle until a downstream aggregate asks for one.
    */
  def sampleGifFrames(payloads: DataFrame, perDoc: Int): Dataset[VideoFrames] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val decoded: Option[Seq[VideoFrames]] =
            try {
              val iis = javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) None
              else {
                val reader = readers.next()
                try {
                  reader.setInput(iis, false, true)
                  val n = reader.getNumImages(true)
                  if (n <= 0) None
                  else {
                    val take = math.min(perDoc, n)
                    Some((0 until take).map { i =>
                      val idx = (i.toLong * n / take).toInt // even spacing
                      val im = reader.read(idx) // random-access seek
                      val w = im.getWidth
                      val h = im.getHeight
                      var sumLuma = 0L
                      var cks = 0L
                      var p = 0
                      var y = 0
                      while (y < h) {
                        var x = 0
                        while (x < w) {
                          val rgb = im.getRGB(x, y)
                          val luma = (299 * ((rgb >> 16) & 0xff) +
                            587 * ((rgb >> 8) & 0xff) +
                            114 * (rgb & 0xff)) / 1000
                          sumLuma += luma
                          cks += (p + 1).toLong * luma
                          p += 1
                          x += 1
                        }
                        y += 1
                      }
                      VideoFrames(id, idx, n, w, h, decode_ok = true,
                        sumLuma, cks)
                    })
                  }
                } finally reader.dispose()
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(Seq(
            VideoFrames(id, -1, 0, 0, 0, decode_ok = false, 0L, 0L)))
        }
      }
  }

  /** q172 — video frame audit over the synthetic animated-GIF corpus:
    * REAL multi-frame container decode with random-access frame seeks,
    * gated against DuckDB's analytic regeneration of every sampled
    * frame's geometry and pixel features. Map-only until the final
    * presentation sort.
    */
  def videoFrames(spark: SparkSession, dir: String): DataFrame =
    sampleGifFrames(gifPayloads(spark, dir), VideoPerDoc).toDF()
      .orderBy("doc_id", "frame_idx")

  /** Frames sampled per AVI payload by q196, and the MJPEG frame
    * grid: widths/heights are MULTIPLES OF 8 so every JPEG block is
    * constant-valued — the one pixel pattern whose lossy JPEG
    * roundtrip is mathematically EXACT (a constant 8×8 block has
    * DC-only DCT with integer coefficients; at compression quality
    * 1.0 the quantization tables are all-ones, so encode→decode
    * reproduces every sample bit-exactly — probe-verified across all
    * 256 grays). Exactness is what lets a LOSSY codec sit under the
    * analytic DuckDB oracle at all.
    */
  val AviPerDoc = 4

  /** Deterministic MJPEG-in-AVI payload for `doc_id`: `2 + id mod 6`
    * frames of `8·(1 + id mod 3) × 8·(1 + id mod 2)` pixels; frame k
    * is a grid of constant 8×8 blocks, block b (row-major) holding
    * gray `((id mod 96)·31 + k·17 + b·11) mod 256` — the mod-96 luma
    * period (divisible by every geometry modulus) plants exact video
    * duplicates at every fixture scale, the corpus q197's near-dup
    * join exists to find. Each frame is independently
    * JPEG-encoded (grayscale, quality 1.0) and framed in a hand-built
    * RIFF AVI container — `hdrl` (avih + strl/strh 'vids'/'MJPG' +
    * strf BITMAPINFOHEADER), `movi` with word-aligned `00dc` chunks,
    * and the `idx1` frame directory whose offsets are relative to the
    * `movi` fourcc (the standard convention). The wavBytes RIFF
    * machinery applied to video; the closed form is what lets the
    * REAL decode be oracle-gated.
    */
  def aviBytes(id: Long): Array[Byte] = {
    val n = (2 + java.lang.Math.floorMod(id, 6L)).toInt
    val w = 8 * (1 + java.lang.Math.floorMod(id, 3L)).toInt
    val h = 8 * (1 + java.lang.Math.floorMod(id, 2L)).toInt
    val bw = w / 8
    val frames = (0 until n).map { k =>
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = im.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val b = (y / 8) * bw + (x / 8)
          raster.setSample(x, y, 0,
            java.lang.Math.floorMod(
              java.lang.Math.floorMod(id, 96L) * 31L + k * 17L + b * 11L,
              256L).toInt)
          x += 1
        }
        y += 1
      }
      val jw = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = jw.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        jw.setOutput(ios)
        jw.write(null, new javax.imageio.IIOImage(im, null, null), p)
      } finally { jw.dispose(); ios.close() }
      bos.toByteArray
    }
    def fcc(s: String) = s.getBytes("US-ASCII")
    val moviBody = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val hdrlBody = 4 + 8 + 56 + 8 + (4 + 8 + 56 + 8 + 40)
    val idx1Body = 16 * n
    val riffBody = 4 + 8 + hdrlBody + 8 + moviBody + 8 + idx1Body
    val bb = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(fcc("RIFF")).putInt(riffBody).put(fcc("AVI "))
    // hdrl: main header + one video stream
    bb.put(fcc("LIST")).putInt(hdrlBody).put(fcc("hdrl"))
    bb.put(fcc("avih")).putInt(56)
      .putInt(100000).putInt(0).putInt(0).putInt(0x10) // µs/frame, -, -, HASINDEX
      .putInt(n).putInt(0).putInt(1).putInt(0) // totalFrames, -, streams, -
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put(fcc("LIST")).putInt(4 + 8 + 56 + 8 + 40).put(fcc("strl"))
    bb.put(fcc("strh")).putInt(56)
      .put(fcc("vids")).put(fcc("MJPG")).putInt(0)
      .putShort(0).putShort(0).putInt(0) // priority+language, initialFrames
      .putInt(1).putInt(10).putInt(0).putInt(n) // scale, rate, start, length
      .putInt(0).putInt(0).putInt(0) // bufSize, quality, sampleSize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    bb.put(fcc("strf")).putInt(40)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .put(fcc("MJPG")).putInt(w * h * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    // movi: 00dc chunk per frame, word-aligned; idx1 offsets point at
    // each chunk's ckid, measured from the movi fourcc position
    bb.put(fcc("LIST")).putInt(moviBody)
    val offsets = new Array[Int](n)
    var off = 4 // first chunk lands right after the movi fourcc
    bb.put(fcc("movi"))
    frames.zipWithIndex.foreach { case (f, k) =>
      offsets(k) = off
      bb.put(fcc("00dc")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
      off += 8 + f.length + (f.length & 1)
    }
    bb.put(fcc("idx1")).putInt(idx1Body)
    frames.zipWithIndex.foreach { case (f, k) =>
      bb.put(fcc("00dc")).putInt(0x10).putInt(offsets(k)).putInt(f.length)
    }
    bb.array()
  }

  /** Synthetic AVI-payload table: one MJPEG AVI per document id (the
    * production-container twin of [[gifPayloads]]). Map-only typed
    * generation.
    */
  def aviPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, aviBytes(id))).toDF("doc_id", "payload")
  }

  /** REAL production-container video decode — a hand-written RIFF/AVI
    * parser (top-level chunk walk → `movi` LIST position + the `idx1`
    * frame directory) over MJPEG payloads: the frame count comes from
    * the `idx1` directory, ≤ `perDoc` evenly-spaced frames are SEEKED
    * by their directory offset (random access into the byte range —
    * the container is never drained sequentially) and their JPEG
    * bitstreams decoded by the real `javax.imageio` JPEG reader
    * (Huffman + DCT, not a stub) to the q172 luma features.
    *
    * Quarantine contract ([[sampleGifFrames]]): wrong magic, truncated
    * stream, a directory pointing outside the payload, or a corrupt
    * JPEG yields ONE `decode_ok = false` row, never an exception.
    *
    * Scale shape: per-partition typed flatMap, one directory parse +
    * `perDoc` bounded decodes per payload, no shuffle.
    */
  def sampleAviFrames(payloads: DataFrame, perDoc: Int): Dataset[VideoFrames] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        def u32(b: Array[Byte], at: Int): Long =
          (b(at) & 0xffL) | (b(at + 1) & 0xffL) << 8 |
            (b(at + 2) & 0xffL) << 16 | (b(at + 3) & 0xffL) << 24
        def fcc(b: Array[Byte], at: Int): String =
          new String(b, at, 4, "US-ASCII")
        it.flatMap { case (id, bytes) =>
          val decoded: Option[Seq[VideoFrames]] =
            try {
              if (bytes.length < 12 || fcc(bytes, 0) != "RIFF" ||
                fcc(bytes, 8) != "AVI ") None
              else {
                // top-level chunk walk: movi LIST fourcc position +
                // the idx1 directory
                var pos = 12
                var moviAt = -1
                var idxAt = -1
                var idxLen = 0
                while (pos + 8 <= bytes.length) {
                  val ck = fcc(bytes, pos)
                  val sz = u32(bytes, pos + 4).toInt
                  if (ck == "LIST" && pos + 12 <= bytes.length &&
                    fcc(bytes, pos + 8) == "movi") moviAt = pos + 8
                  if (ck == "idx1") { idxAt = pos + 8; idxLen = sz }
                  pos += 8 + sz + (sz & 1)
                }
                val n = idxLen / 16
                if (moviAt < 0 || idxAt < 0 || n <= 0) None
                else {
                  val take = math.min(perDoc, n)
                  Some((0 until take).map { i =>
                    val idx = (i.toLong * n / take).toInt // even spacing
                    val e = idxAt + 16 * idx
                    val off = u32(bytes, e + 8).toInt
                    val len = u32(bytes, e + 12).toInt
                    val at = moviAt + off + 8 // skip the chunk header
                    val im = javax.imageio.ImageIO.read(
                      new java.io.ByteArrayInputStream(bytes, at, len))
                    if (im == null) throw new java.io.IOException("bad frame")
                    val w = im.getWidth
                    val h = im.getHeight
                    val raster = im.getRaster
                    val gray = raster.getNumBands == 1
                    var sumLuma = 0L
                    var cks = 0L
                    var p = 0
                    var y = 0
                    while (y < h) {
                      var x = 0
                      while (x < w) {
                        val luma =
                          if (gray) raster.getSample(x, y, 0)
                          else {
                            val rgb = im.getRGB(x, y)
                            (299 * ((rgb >> 16) & 0xff) +
                              587 * ((rgb >> 8) & 0xff) +
                              114 * (rgb & 0xff)) / 1000
                          }
                        sumLuma += luma
                        cks += (p + 1).toLong * luma
                        p += 1
                        x += 1
                      }
                      y += 1
                    }
                    VideoFrames(id, idx, n, w, h, decode_ok = true,
                      sumLuma, cks)
                  })
                }
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(Seq(
            VideoFrames(id, -1, 0, 0, 0, decode_ok = false, 0L, 0L)))
        }
      }
  }

  /** q196 — video frame audit over the synthetic MJPEG-AVI corpus:
    * REAL production-container parse (idx1 directory + offset seeks)
    * and REAL lossy-codec JPEG decode, gated against DuckDB's analytic
    * regeneration of every sampled frame's block-grid features (exact
    * because constant 8×8 blocks survive quality-1.0 JPEG bit-exactly
    * — see [[AviPerDoc]]). Map-only until the presentation sort.
    */
  def aviFrames(spark: SparkSession, dir: String): DataFrame =
    sampleAviFrames(aviPayloads(spark, dir), AviPerDoc).toDF()
      .orderBy("doc_id", "frame_idx")

  /** Sampled frames two videos must share (at the same frame index,
    * bit-identical geometry + pixel features) before q197 calls them
    * near-duplicates.
    */
  val VideoDupMinFrames = 3

  /** q197 — CROSS-VIDEO near-dup by sampled-frame fingerprints: decode
    * each video's q196 frame samples ONCE, fingerprint every frame by
    * its exact feature tuple (frame_idx, geometry, Σluma, positional
    * checksum), and match videos sharing at least [[VideoDupMinFrames]]
    * fingerprints at the same sampled index — the video leg of the
    * dedup family (a re-encoded or re-uploaded copy of a clip lands in
    * the same fingerprint buckets; q21/q22 do this for text, q38 for
    * embeddings, r7's aHash for images). Composes the real container
    * parse + JPEG decode into the pair machinery.
    *
    * Scale shape: the fingerprint relation is ≤ perDoc rows per video
    * and is checkpointed so the self-join does not re-run the codec;
    * pairs form ONLY inside equal-fingerprint buckets (the join key is
    * the full feature tuple — bucket size = the video-duplicate mass,
    * never corpus²); the per-pair rollup is a bounded aggregate.
    */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame =
    videoNearDupFrom(aviPayloads(spark, dir))

  def videoNearDupFrom(payloads: DataFrame): DataFrame = {
    val fp = sampleAviFrames(payloads, AviPerDoc).toDF()
      .filter(col("decode_ok"))
      .select("doc_id", "frame_idx", "n_frames", "width", "height",
        "sum_luma", "checksum")
      .localCheckpoint()
    val key = Seq("frame_idx", "n_frames", "width", "height",
      "sum_luma", "checksum")
    val sampled = fp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sampled"))
    fp.alias("a").join(fp.alias("b"),
        key.map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _) && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("video_a"), col("b.doc_id").as("video_b"))
      .groupBy("video_a", "video_b")
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= VideoDupMinFrames)
      .join(sampled.select(col("doc_id").as("video_a"),
        col("n_sampled")), Seq("video_a"))
      .select(col("video_a"), col("video_b"), col("n_match"),
        col("n_sampled"),
        (col("n_match") === col("n_sampled")).as("full_match"))
      .orderBy("video_a", "video_b")
  }

  /** Keyframes sampled per MP4 payload by q199. */
  val Mp4PerDoc = 3

  /** Deterministic MP4 (ISO-BMFF) payload for `doc_id`: `3 + id mod 5`
    * JPEG samples of `8·(1 + id mod 2) × 8·(1 + id mod 3)` pixels at
    * 10 fps (movie timescale 1000, sample delta 100), every 3rd sample
    * a SYNC sample (`stss` = 1-based {1, 4, 7, …} — the keyframe
    * cadence a real encoder's GOP structure produces). Sample k is a
    * grid of constant 8×8 blocks, block b holding gray
    * `((id mod 48)·29 + k·13 + b·7) mod 256` — the same
    * exact-JPEG-roundtrip trick as [[aviBytes]] (constant blocks are
    * DC-only, quality-1.0 tables are all-ones; see [[AviPerDoc]]).
    *
    * Box layout is the standard recorder shape — `ftyp` (isom), `mdat`
    * FIRST, `moov` LAST (non-faststart: a parser must walk to the
    * trailing `moov`, then seek BACK into `mdat`): `moov`{`mvhd`,
    * `trak`{`tkhd`, `mdia`{`mdhd`, `hdlr` vide, `minf`{`vmhd`,
    * `dinf`{`dref` self-contained}, `stbl`{`stsd` 'jpeg'
    * VisualSampleEntry, `stts`, `stss`, `stsc`, `stsz`, `stco`
    * absolute offsets}}}}}. Big-endian throughout (ISO-BMFF), vs the
    * little-endian RIFF of [[aviBytes]] — the two production container
    * families, both hand-built, zero external deps.
    */
  /** The shared JPEG sample set of [[mp4Bytes]]/[[mp4FragBytes]]:
    * `(n, w, h, frames)` per the closed form in the [[mp4Bytes]] doc.
    */
  private def mp4JpegFrames(id: Long): (Int, Int, Int, IndexedSeq[Array[Byte]]) = {
    val n = (3 + java.lang.Math.floorMod(id, 5L)).toInt
    val w = 8 * (1 + java.lang.Math.floorMod(id, 2L)).toInt
    val h = 8 * (1 + java.lang.Math.floorMod(id, 3L)).toInt
    val bw = w / 8
    val frames = (0 until n).map { k =>
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = im.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val b = (y / 8) * bw + (x / 8)
          raster.setSample(x, y, 0,
            java.lang.Math.floorMod(
              java.lang.Math.floorMod(id, 48L) * 29L + k * 13L + b * 7L,
              256L).toInt)
          x += 1
        }
        y += 1
      }
      val jw = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = jw.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        jw.setOutput(ios)
        jw.write(null, new javax.imageio.IIOImage(im, null, null), p)
      } finally { jw.dispose(); ios.close() }
      bos.toByteArray
    }
    (n, w, h, frames)
  }

  private def mp4Fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def mp4Box(typ: String, parts: Array[Byte]*): Array[Byte] = {
    val body = parts.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(8 + body) // big-endian default
    bb.putInt(8 + body).put(mp4Fcc(typ))
    parts.foreach(bb.put)
    bb.array()
  }

  private def mp4U32s(vs: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
    vs.foreach(bb.putInt)
    bb.array()
  }

  def mp4Bytes(id: Long): Array[Byte] = {
    val (n, w, h, frames) = mp4JpegFrames(id)
    def fcc(s: String) = mp4Fcc(s)
    def box(typ: String, parts: Array[Byte]*) = mp4Box(typ, parts: _*)
    def u32s(vs: Int*) = mp4U32s(vs: _*)
    val ftyp = box("ftyp", fcc("isom"), u32s(0x200), fcc("isom"), fcc("mp41"))
    // mdat directly after ftyp: sample s begins at 24 + 8 + Σ sizes
    val offsets = frames.scanLeft(ftyp.length + 8)(_ + _.length).init
    val mdat = box("mdat", frames.flatten.toArray)
    val dur = n * 100
    val syncs = (0 until n by 3).map(_ + 1) // 1-based sync table
    val mvhd = box("mvhd", u32s(0, 0, 0, 1000, dur, 0x00010000),
      u32s(0x01000000, 0, 0), // volume 1.0 + reserved(2) + reserved(8)
      u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000), // unity matrix
      u32s(0, 0, 0, 0, 0, 0, 2)) // predefineds + next track id
    val tkhd = box("tkhd", u32s(0x00000007, 0, 0, 1, 0, dur, 0, 0, 0, 0),
      u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
      u32s(w << 16, h << 16)) // 16.16 fixed
    val mdhd = box("mdhd", u32s(0, 0, 0, 1000, dur), u32s(0x55c40000))
    val hdlr = box("hdlr", u32s(0, 0), fcc("vide"), u32s(0, 0, 0),
      "GraftVideo".getBytes("US-ASCII"), Array[Byte](0))
    val vmhd = box("vmhd", u32s(1, 0, 0)) // flags 1 + graphicsmode/opcolor
    val dinf = box("dinf", box("dref", u32s(0, 1), box("url ", u32s(1))))
    // VisualSampleEntry: 6 reserved + dref idx, 16 predef/reserved,
    // w/h, 72dpi ×2, reserved, frame_count 1, 32-char compressorname,
    // depth 24, predefined -1
    val sampleEntry = box("jpeg", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1),
      u32s(0, 0, 0, 0), u32s((w << 16) | h, 0x00480000, 0x00480000, 0),
      u32s(1 << 16), new Array[Byte](30), u32s((24 << 16) | 0xffff))
    val stsd = box("stsd", u32s(0, 1), sampleEntry)
    val stts = box("stts", u32s(0, 1, n, 100))
    val stss = box("stss", u32s(0 +: syncs.length +: syncs: _*))
    val stsc = box("stsc", u32s(0, 1, 1, 1, 1)) // 1 sample per chunk
    val stsz = box("stsz", u32s(0 +: 0 +: n +: frames.map(_.length): _*))
    val stco = box("stco", u32s(0 +: n +: offsets: _*))
    val stbl = box("stbl", stsd, stts, stss, stsc, stsz, stco)
    val minf = box("minf", vmhd, dinf, stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    ftyp ++ mdat ++ moov
  }

  /** Extra presentation milliseconds the q213 edit list adds. */
  val Mp4ElstPadMs = 500

  /** FRAGMENTED-MP4 (fMP4 — the DASH/HLS/streaming-upload layout) twin
    * of [[mp4Bytes]]: identical JPEG samples, but the `moov` carries an
    * EMPTY sample table (zero-entry `stsz`/`stsc`/`stco`, no `stss`)
    * plus `mvex`{`mehd` fragment duration, `trex` track defaults}, and
    * every pair of samples ships in its own
    * `moof`{`mfhd`, `traf`{`tfhd` (default-base-is-moof), `tfdt`,
    * `trun` (data_offset + per-sample duration/size/flags)}} + `mdat`
    * pair. Keyframe cadence rides the trun SAMPLE FLAGS (sample k:
    * `0x02000000` = I-frame every 3rd sample, `0x01010000` =
    * non-sync otherwise) — fragmented files have no `stss`. Files with
    * `id % 3 == 0` additionally carry `edts`{`elst`} extending the
    * presentation by [[Mp4ElstPadMs]] ms (one v0 edit of
    * `n·100 + 500` movie-timescale units) — the duration contract the
    * edit list owns; the rest read their duration from `mehd`
    * (`mdhd`/`mvhd` durations are 0, as a live recorder leaves them).
    */
  def mp4FragBytes(id: Long): Array[Byte] = {
    val (n, w, h, frames) = mp4JpegFrames(id)
    def fcc(s: String) = mp4Fcc(s)
    def box(typ: String, parts: Array[Byte]*) = mp4Box(typ, parts: _*)
    def u32s(vs: Int*) = mp4U32s(vs: _*)
    val ftyp = box("ftyp", fcc("iso5"), u32s(0x200), fcc("iso5"), fcc("mp41"))
    val dur = n * 100
    val mvhd = box("mvhd", u32s(0, 0, 0, 1000, 0, 0x00010000),
      u32s(0x01000000, 0, 0),
      u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
      u32s(0, 0, 0, 0, 0, 0, 2))
    val tkhd = box("tkhd", u32s(0x00000007, 0, 0, 1, 0, 0, 0, 0, 0, 0),
      u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
      u32s(w << 16, h << 16))
    val edts =
      if (java.lang.Math.floorMod(id, 3L) == 0L)
        Some(box("edts",
          box("elst", u32s(0, 1, dur + Mp4ElstPadMs, 0, 0x00010000))))
      else None
    val mdhd = box("mdhd", u32s(0, 0, 0, 1000, 0), u32s(0x55c40000))
    val hdlr = box("hdlr", u32s(0, 0), fcc("vide"), u32s(0, 0, 0),
      "GraftVideo".getBytes("US-ASCII"), Array[Byte](0))
    val vmhd = box("vmhd", u32s(1, 0, 0))
    val dinf = box("dinf", box("dref", u32s(0, 1), box("url ", u32s(1))))
    val sampleEntry = box("jpeg", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1),
      u32s(0, 0, 0, 0), u32s((w << 16) | h, 0x00480000, 0x00480000, 0),
      u32s(1 << 16), new Array[Byte](30), u32s((24 << 16) | 0xffff))
    val stsd = box("stsd", u32s(0, 1), sampleEntry)
    val stbl = box("stbl", stsd, box("stts", u32s(0, 0)),
      box("stsc", u32s(0, 0)), box("stsz", u32s(0, 0, 0)),
      box("stco", u32s(0, 0)))
    val minf = box("minf", vmhd, dinf, stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", Seq(tkhd) ++ edts ++ Seq(mdia): _*)
    val mehd = box("mehd", u32s(0, dur))
    val trex = box("trex", u32s(0, 1, 1, 0, 0, 0))
    val moov = box("moov", mvhd, trak, box("mvex", mehd, trex))
    val frags = frames.grouped(2).zipWithIndex.map { case (fs, fi) =>
      val s0 = fi * 2
      val mfhd = box("mfhd", u32s(0, fi + 1))
      val tfhd = box("tfhd", u32s(0x00020000, 1)) // default-base-is-moof
      val tfdt = box("tfdt", u32s(0, s0 * 100))
      // per-sample (duration, size, flags) triples
      val entries = fs.zipWithIndex.flatMap { case (f, j) =>
        val flags =
          if ((s0 + j) % 3 == 0) 0x02000000 // I-frame: depends-on-none
          else 0x01010000 // depends-on-one + non-sync bit
        Seq(100, f.length, flags)
      }
      // data_offset is moof-box-relative: the first sample starts right
      // after this moof's 8-byte mdat header
      val trunSize = 8 + 12 + 12 * fs.length
      val moofSize = 8 + mfhd.length +
        (8 + tfhd.length + tfdt.length + trunSize)
      val trun = box("trun",
        u32s(Seq(0x00000701, fs.length, moofSize + 8) ++ entries: _*))
      val moof = box("moof", mfhd, box("traf", tfhd, tfdt, trun))
      moof ++ box("mdat", fs.flatten.toArray)
    }
    ftyp ++ moov ++ frags.flatten
  }

  /** Synthetic MP4-payload table: one ISO-BMFF/JPEG video per document
    * id (the MP4 twin of [[aviPayloads]]). Map-only typed generation.
    */
  def mp4Payloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, mp4Bytes(id))).toDF("doc_id", "payload")
  }

  /** Synthetic fragmented-MP4 payload table (the q213 corpus). */
  def mp4FragPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, mp4FragBytes(id))).toDF("doc_id", "payload")
  }

  /** One REALLY-decoded sampled MP4 keyframe from [[sampleMp4Keyframes]]. */
  final case class Mp4Frames(
      doc_id: Long, sample_idx: Int, n_frames: Int, n_sync: Int,
      width: Int, height: Int, duration_ms: Long, codec: String,
      decode_ok: Boolean, sum_luma: Long, checksum: Long)

  /** REAL ISO-BMFF (MP4) parse + KEYFRAME-only decode — a hand-written
    * box walker over the production container family AVI's RIFF is not:
    * big-endian `size|fourcc` boxes (64-bit `largesize` and
    * to-end-of-file sizes handled), top-level walk to the `moov`
    * (leading OR trailing — the parser random-accesses into `mdat`
    * either way), recursive descent `moov → trak → mdia → minf → stbl`
    * selecting the first `hdlr = vide` track, then the full sample-table
    * machinery: `stsd` (codec fourcc), `stsz` (sample sizes), `stsc`
    * run expansion (samples-per-chunk map), `stco`/`co64` (chunk
    * offsets), and `stss` (sync table).
    *
    * FRAGMENTED movies (fMP4 — `moov` declares zero samples) are
    * walked through their `moof` fragments instead: `traf` matched to
    * the video track's `tkhd`/`trex` id, `tfhd` per-fragment defaults
    * (base-data-offset or default-base-is-moof), and `trun` runs
    * yielding per-sample offset/size/sync (the `0x10000`
    * non-sync-sample flag bit replaces `stss`). Durations resolve in
    * presentation order: `edts`/`elst` edit-list total (movie
    * timescale) when present, else `mdhd` media duration, else the
    * `mvex`/`mehd` fragment duration a live recorder leaves behind.
    *
    * Only SYNC samples are decoded — ≤ `perDoc` evenly spaced over the
    * sync list, each one seeked via the offset arithmetic above and fed
    * to the real `javax.imageio` JPEG decoder. Sampling keyframes (not
    * arbitrary frames) is the production contract: in a predictive
    * codec only sync samples decode standalone, so a 100 TB
    * frame-sampling scan reads exactly the sync-listed byte ranges and
    * nothing else.
    *
    * Quarantine contract ([[sampleAviFrames]]): wrong magic, truncated
    * boxes, a sample table pointing outside the payload, or corrupt
    * JPEG bytes yield ONE `decode_ok = false` row, never an exception.
    * Every declared table count is validated against its box extent
    * (and total samples against the payload length) BEFORE any
    * count-sized allocation, so a hostile count can never OOM past the
    * Exception quarantine.
    *
    * Scale shape: per-partition typed flatMap, one box walk + ≤ perDoc
    * bounded decodes per payload, no shuffle.
    */
  def sampleMp4Keyframes(payloads: DataFrame, perDoc: Int): Dataset[Mp4Frames] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        def u32(b: Array[Byte], at: Int): Long =
          (b(at) & 0xffL) << 24 | (b(at + 1) & 0xffL) << 16 |
            (b(at + 2) & 0xffL) << 8 | (b(at + 3) & 0xffL)
        def u64(b: Array[Byte], at: Int): Long =
          u32(b, at) << 32 | u32(b, at + 4)
        def fcc(b: Array[Byte], at: Int): String =
          new String(b, at, 4, "US-ASCII")
        // walk the children of [from, until) → (type → (payloadAt, payloadEnd))
        def walk(b: Array[Byte], from: Int, until: Int): List[(String, (Int, Int))] = {
          var pos = from
          var bad = false // truncated box: stop the walk, keep what parsed
          val out = List.newBuilder[(String, (Int, Int))]
          while (!bad && pos + 8 <= until) {
            val sz0 = u32(b, pos)
            val typ = fcc(b, pos + 4)
            val (hdr, sz) =
              if (sz0 == 1L && pos + 16 <= until) (16, u64(b, pos + 8))
              else if (sz0 == 0L) (8, (until - pos).toLong) // to end of file
              else (8, sz0)
            if (sz < hdr || pos + sz > until) bad = true
            else {
              out += typ -> (pos + hdr, pos + sz.toInt)
              pos += sz.toInt
            }
          }
          out.result()
        }
        def child(kids: List[(String, (Int, Int))], typ: String): Option[(Int, Int)] =
          kids.collectFirst { case (`typ`, span) => span }
        // declared entry count at `at + skip`, validated against the box
        // extent BEFORE anything count-sized materializes (a hostile
        // count would otherwise allocate an Error past the quarantine)
        def countAt(b: Array[Byte], span: (Int, Int), skip: Int,
            per: Int): Option[Int] = {
          val (at, end) = span
          if (at + skip + 4 > end) None
          else {
            val n = u32(b, at + skip)
            if (at + skip + 4 + n * per.toLong > end) None else Some(n.toInt)
          }
        }
        it.flatMap { case (id, bytes) =>
          val decoded: Option[Seq[Mp4Frames]] =
            try {
              val top = walk(bytes, 0, bytes.length)
              if (child(top, "ftyp").isEmpty) None
              else child(top, "moov").flatMap { case (mAt, mEnd) =>
                val moov = walk(bytes, mAt, mEnd)
                // movie timescale: elst segment durations and mehd are
                // expressed in it (mdhd's media timescale is per-track)
                val movieTs = child(moov, "mvhd").map { case (at, _) =>
                  if (bytes(at) == 1) u32(bytes, at + 20) else u32(bytes, at + 12)
                }.getOrElse(1000L)
                // first video track: hdlr handler_type == 'vide'
                val trakOpt = moov.collect { case ("trak", (tAt, tEnd)) =>
                  val trak = walk(bytes, tAt, tEnd)
                  child(trak, "mdia").map(m => (trak, walk(bytes, m._1, m._2)))
                }.flatten.collectFirst {
                  case (trak, mdia)
                      if child(mdia, "hdlr").exists(h => fcc(bytes, h._1 + 8) == "vide") =>
                    (trak, mdia)
                }
                trakOpt.flatMap { case (trak, mdia) =>
                  val stbl = child(mdia, "minf").map(m => walk(bytes, m._1, m._2))
                    .flatMap(child(_, "stbl")).map(s => walk(bytes, s._1, s._2))
                  val mdhd = child(mdia, "mdhd")
                  if (stbl.isEmpty || mdhd.isEmpty) None
                  else {
                    val kids = stbl.get
                    val hAt = mdhd.get._1
                    val v1 = bytes(hAt) == 1
                    val timescale = u32(bytes, hAt + (if (v1) 20 else 12))
                    val mediaDur = if (v1) u64(bytes, hAt + 24) else u32(bytes, hAt + 16)
                    val codec = child(kids, "stsd")
                      .map(s => fcc(bytes, s._1 + 8 + 4)).getOrElse("")

                    // ---- progressive samples: the stbl machinery
                    def stblSamples(): Option[(IndexedSeq[Long], IndexedSeq[Long], IndexedSeq[Int])] = {
                      val szSpan = child(kids, "stsz")
                      val scSpan = child(kids, "stsc")
                      if (szSpan.isEmpty || scSpan.isEmpty) None
                      else {
                        val (szAt, szEnd) = szSpan.get
                        val fixedSz = u32(bytes, szAt + 4)
                        val nDecl = u32(bytes, szAt + 8)
                        // variable sizes must fit the box; fixed-size
                        // counts are still payload-bounded
                        val nOk =
                          if (fixedSz == 0L) szAt + 12 + nDecl * 4L <= szEnd
                          else nDecl >= 0L && nDecl <= bytes.length / 4
                        if (!nOk) None
                        else {
                          val n = nDecl.toInt
                          val sizes = (0 until n).map(i =>
                            if (fixedSz != 0L) fixedSz else u32(bytes, szAt + 12 + 4 * i))
                          // chunk offsets: stco (u32) or co64 (u64)
                          val offs: Option[IndexedSeq[Long]] =
                            child(kids, "stco").flatMap { span =>
                              countAt(bytes, span, 4, 4).map(c =>
                                (0 until c).map(i => u32(bytes, span._1 + 8 + 4 * i)))
                            }.orElse(child(kids, "co64").flatMap { span =>
                              countAt(bytes, span, 4, 8).map(c =>
                                (0 until c).map(i => u64(bytes, span._1 + 8 + 8 * i)))
                            })
                          val runsOpt = countAt(bytes, scSpan.get, 4, 12).map { c =>
                            (0 until c).map { i =>
                              (u32(bytes, scSpan.get._1 + 8 + 12 * i).toInt, // first_chunk, 1-based
                                u32(bytes, scSpan.get._1 + 12 + 12 * i).toInt) // samples_per_chunk
                            }
                          }
                          if (offs.isEmpty || runsOpt.isEmpty) None
                          else {
                            val runs = runsOpt.get
                            val sampleOffsets = new Array[Long](n)
                            var s = 0
                            var c = 0 // 0-based chunk
                            while (s < n && c < offs.get.length) {
                              val spc = runs.lastIndexWhere(_._1 <= c + 1) match {
                                case -1 => 1
                                case i => runs(i)._2
                              }
                              var within = 0
                              var at = offs.get(c)
                              while (within < spc && s < n) {
                                sampleOffsets(s) = at
                                at += sizes(s)
                                s += 1
                                within += 1
                              }
                              c += 1
                            }
                            if (s < n) None
                            else {
                              val sync = child(kids, "stss").flatMap(span =>
                                countAt(bytes, span, 4, 4).map(c =>
                                  (0 until c).map(i =>
                                    u32(bytes, span._1 + 8 + 4 * i).toInt - 1)))
                                .getOrElse(0 until n) // no stss → all sync
                              Some((sampleOffsets.toIndexedSeq, sizes, sync.toIndexedSeq))
                            }
                          }
                        }
                      }
                    }

                    // ---- fragmented samples: moof/traf/trun runs
                    def fragSamples(): Option[(IndexedSeq[Long], IndexedSeq[Long], IndexedSeq[Int])] = {
                      val tkhd = child(trak, "tkhd")
                      if (tkhd.isEmpty) None
                      else {
                        val tAt = tkhd.get._1
                        val trackId =
                          if (bytes(tAt) == 1) u32(bytes, tAt + 20)
                          else u32(bytes, tAt + 12)
                        val mvex = child(moov, "mvex")
                          .map(m => walk(bytes, m._1, m._2)).getOrElse(Nil)
                        val trex = mvex.collect { case ("trex", s) => s }
                          .find { case (at, _) => u32(bytes, at + 4) == trackId }
                        val defSize = trex.map { case (at, _) => u32(bytes, at + 16) }.getOrElse(0L)
                        val defFlags = trex.map { case (at, _) => u32(bytes, at + 20) }.getOrElse(0L)
                        val sampleCap = bytes.length / 4 // total-sample bound
                        val offB = IndexedSeq.newBuilder[Long]
                        val szB = IndexedSeq.newBuilder[Long]
                        val syB = IndexedSeq.newBuilder[Int]
                        var idx = 0
                        var bad = false
                        top.collect { case ("moof", s) => s }.foreach { case (fAt, fEnd) =>
                          if (!bad) {
                            // moof BOX start (walk spans are payload spans)
                            val moofStart =
                              if (fAt >= 16 && u32(bytes, fAt - 16) == 1L &&
                                fcc(bytes, fAt - 12) == "moof") fAt - 16L
                              else fAt - 8L
                            walk(bytes, fAt, fEnd).collect { case ("traf", s) => s }
                              .foreach { case (aAt, aEnd) =>
                                val tk = walk(bytes, aAt, aEnd)
                                val tfhd = child(tk, "tfhd")
                                val tid = tfhd.map(h => u32(bytes, h._1 + 4)).getOrElse(-1L)
                                if (!bad && tfhd.isDefined && tid == trackId) {
                                  val hAt2 = tfhd.get._1
                                  val tfFlags = u32(bytes, hAt2) & 0xffffffL
                                  var p = hAt2 + 8
                                  val baseOff =
                                    if ((tfFlags & 0x1L) != 0) { val v = u64(bytes, p); p += 8; v }
                                    else if ((tfFlags & 0x20000L) != 0) moofStart
                                    else {
                                      // ISO 14496-12 §8.8.7: with neither
                                      // base-data-offset nor
                                      // default-base-is-moof, the base is
                                      // the END of the previous traf's
                                      // data — not tracked here, so a
                                      // conformant multi-traf fragment
                                      // would mis-seek; quarantine rather
                                      // than emit silently wrong offsets
                                      bad = true; moofStart
                                    }
                                  if ((tfFlags & 0x2L) != 0) p += 4 // sample_description_index
                                  if ((tfFlags & 0x8L) != 0) p += 4 // default_sample_duration
                                  val tfDefSize =
                                    if ((tfFlags & 0x10L) != 0) { val v = u32(bytes, p); p += 4; v }
                                    else defSize
                                  val tfDefFlags =
                                    if ((tfFlags & 0x20L) != 0) { val v = u32(bytes, p); p += 4; v }
                                    else defFlags
                                  tk.collect { case ("trun", s) => s }.foreach { case (rAt, rEnd) =>
                                    if (!bad) {
                                      val rFlags = u32(bytes, rAt) & 0xffffffL
                                      val cnt = u32(bytes, rAt + 4)
                                      val per = (if ((rFlags & 0x100L) != 0) 4 else 0) +
                                        (if ((rFlags & 0x200L) != 0) 4 else 0) +
                                        (if ((rFlags & 0x400L) != 0) 4 else 0) +
                                        (if ((rFlags & 0x800L) != 0) 4 else 0)
                                      val fixed = 8 + (if ((rFlags & 0x1L) != 0) 4 else 0) +
                                        (if ((rFlags & 0x4L) != 0) 4 else 0)
                                      if (rAt + fixed + cnt * per.toLong > rEnd ||
                                        idx + cnt > sampleCap) bad = true
                                      else {
                                        var q = rAt + 8
                                        val dataOff =
                                          if ((rFlags & 0x1L) != 0) { val v = u32(bytes, q).toInt; q += 4; v.toLong }
                                          else 0L
                                        val firstFlags =
                                          if ((rFlags & 0x4L) != 0) { val v = u32(bytes, q); q += 4; Some(v) }
                                          else None
                                        var at = baseOff + dataOff
                                        var s2 = 0
                                        while (s2 < cnt.toInt) {
                                          if ((rFlags & 0x100L) != 0) q += 4 // duration
                                          val sz =
                                            if ((rFlags & 0x200L) != 0) { val v = u32(bytes, q); q += 4; v }
                                            else tfDefSize
                                          val sFlags =
                                            if ((rFlags & 0x400L) != 0) { val v = u32(bytes, q); q += 4; v }
                                            else if (s2 == 0 && firstFlags.isDefined) firstFlags.get
                                            else tfDefFlags
                                          if ((rFlags & 0x800L) != 0) q += 4 // composition offset
                                          offB += at
                                          szB += sz
                                          if ((sFlags & 0x10000L) == 0L) syB += idx
                                          at += sz
                                          idx += 1
                                          s2 += 1
                                        }
                                      }
                                    }
                                  }
                                }
                              }
                          }
                        }
                        if (bad || idx == 0) None
                        else Some((offB.result(), szB.result(), syB.result()))
                      }
                    }

                    val samples = stblSamples() match {
                      case Some((o, z, y)) if o.nonEmpty => Some((o, z, y))
                      case Some(_) => fragSamples() // empty stbl → fMP4
                      case None => None
                    }
                    samples.map { case (sampleOffsets, sizes, sync) =>
                      val n = sampleOffsets.length
                      // duration precedence: elst edit-list total (movie
                      // ts) > mdhd media duration > mehd fragment
                      // duration (movie ts)
                      val elstDur: Option[Long] = child(trak, "edts")
                        .map(e => walk(bytes, e._1, e._2))
                        .flatMap(child(_, "elst")).flatMap { span =>
                          val v1e = bytes(span._1) == 1
                          val per = if (v1e) 20 else 12
                          countAt(bytes, span, 4, per).map { c =>
                            (0 until c).map { i =>
                              if (v1e) u64(bytes, span._1 + 8 + 20 * i)
                              else u32(bytes, span._1 + 8 + 12 * i)
                            }.sum
                          }
                        }
                      val mehdDur: Long = child(moov, "mvex")
                        .map(m => walk(bytes, m._1, m._2))
                        .flatMap(child(_, "mehd")).map { case (at, _) =>
                          if (bytes(at) == 1) u64(bytes, at + 4) else u32(bytes, at + 4)
                        }.getOrElse(0L)
                      val durMs = elstDur match {
                        case Some(d) => d * 1000L / math.max(movieTs, 1L)
                        case None if mediaDur > 0 =>
                          mediaDur * 1000L / math.max(timescale, 1L)
                        case None => mehdDur * 1000L / math.max(movieTs, 1L)
                      }
                      val take = math.min(perDoc, sync.length)
                      (0 until take).map { i =>
                        val kf = sync(i * sync.length / take)
                        val off = sampleOffsets(kf)
                        val len = sizes(kf).toInt
                        val im = javax.imageio.ImageIO.read(
                          new java.io.ByteArrayInputStream(bytes, off.toInt, len))
                        if (im == null) throw new java.io.IOException("bad sample")
                        val w = im.getWidth
                        val h = im.getHeight
                        val raster = im.getRaster
                        var sumLuma = 0L
                        var cks = 0L
                        var p = 0
                        var y = 0
                        while (y < h) {
                          var x = 0
                          while (x < w) {
                            val luma = raster.getSample(x, y, 0)
                            sumLuma += luma
                            cks += (p + 1).toLong * luma
                            p += 1
                            x += 1
                          }
                          y += 1
                        }
                        Mp4Frames(id, kf, n, sync.length, w, h, durMs, codec,
                          decode_ok = true, sumLuma, cks)
                      }
                    }
                  }
                }
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(Seq(Mp4Frames(id, -1, 0, 0, 0, 0, 0L, "",
            decode_ok = false, 0L, 0L)))
        }
      }
  }

  /** q199 — MP4 keyframe audit over the synthetic ISO-BMFF corpus:
    * REAL box-tree parse (trailing moov, full stsc/stco/stsz offset
    * arithmetic, stss sync table) and REAL JPEG decode of ONLY the sync
    * samples, gated against DuckDB's analytic regeneration (exact
    * because constant 8×8 blocks survive quality-1.0 JPEG bit-exactly
    * — see [[AviPerDoc]]). Map-only until the presentation sort.
    */
  def mp4Keyframes(spark: SparkSession, dir: String): DataFrame =
    sampleMp4Keyframes(mp4Payloads(spark, dir), Mp4PerDoc).toDF()
      .orderBy("doc_id", "sample_idx")

  /** q213 — FRAGMENTED-MP4 keyframe audit: the q199 contract over the
    * fMP4/DASH layout ([[mp4FragBytes]]) — samples discovered through
    * `moof`/`traf`/`trun` walks (no stbl rows, no stss; sync = trun
    * sample-flag bit), durations resolved from `elst` edit lists
    * (id % 3 == 0 files) or the `mvex`/`mehd` fragment duration.
    * Decode values are gated against the SAME analytic closed form as
    * q199 (identical JPEG samples), with the elst files' duration
    * extended by [[Mp4ElstPadMs]]. Map-only until the presentation
    * sort.
    */
  def mp4Fragmented(spark: SparkSession, dir: String): DataFrame =
    sampleMp4Keyframes(mp4FragPayloads(spark, dir), Mp4PerDoc).toDF()
      .orderBy("doc_id", "sample_idx")

  // ---------------------------------------------------------------------
  // q224 — H.264 stream metadata (avc1/avcC + SPS/PPS parse)
  // ---------------------------------------------------------------------

  /** MSB-first bit writer with Exp-Golomb, for the synthetic SPS/PPS. */
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nbits += 1
      if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
    }
    def bits(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bit(((v >> i) & 1L).toInt))
    def ue(v: Long): Unit = { // Exp-Golomb: M zeros, then (v+1) in M+1 bits
      val code = v + 1
      val m = 63 - java.lang.Long.numberOfLeadingZeros(code)
      bits(0L, m); bits(code, m + 1)
    }
    /** rbsp_stop_one_bit + byte-align, returns the RBSP. */
    def rbsp(): Array[Byte] = {
      bit(1); while (nbits != 0) bit(0); buf.toArray
    }
  }

  /** Emulation-prevention escape: 00 00 {00,01,02,03} → 00 00 03 xx —
    * the byte-stream rule every real H.264 RBSP is wrapped in.
    */
  private def epbEscape(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** q224 fixture closed forms (the oracle mirrors these in SQL). */
  private def avcParams(id: Long) = {
    val m = (v: Long, n: Long) => java.lang.Math.floorMod(v, n).toInt
    (Seq(66, 77, 100)(m(id, 3)), // profile_idc (Baseline/Main/High)
      30 + 10 * m(id, 2), // level_idc (3.0 / 4.0)
      4 + m(id, 4), // mb width
      3 + m(id, 3), // mb height
      m(id, 2), // crop (right+bottom, 2-px units under 4:2:0)
      2 + m(id, 4), // n samples, IDR at k % 3 == 0
      m(id, 2) == 1) // CABAC
  }

  /** A REAL Sequence Parameter Set NAL for the id's closed-form
    * geometry: profile/level header, Exp-Golomb syntax (High-profile
    * chroma block when profile = 100), mb dimensions, frame cropping,
    * stop bit, emulation-prevention escaped. The q224 parser must
    * decode this the way a decoder does — nothing is echoed.
    */
  def avcSpsNal(id: Long): Array[Byte] = {
    val (profile, level, mbW, mbH, crop, _, _) = avcParams(id)
    val w = new BitWriter
    w.bits(profile, 8); w.bits(0, 8); w.bits(level, 8)
    w.ue(0) // seq_parameter_set_id
    if (profile == 100) {
      w.ue(1); w.ue(0); w.ue(0) // chroma 4:2:0, 8-bit luma/chroma
      w.bit(0); w.bit(0) // transform bypass, scaling matrix absent
    }
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(0) // pic_order_cnt_type = 0
    w.ue(0) // log2_max_pic_order_cnt_lsb_minus4
    w.ue(1) // max_num_ref_frames
    w.bit(0) // gaps_in_frame_num_value_allowed
    w.ue(mbW - 1); w.ue(mbH - 1)
    w.bit(1) // frame_mbs_only_flag
    w.bit(1) // direct_8x8_inference
    if (crop > 0) { w.bit(1); w.ue(0); w.ue(crop); w.ue(0); w.ue(crop) }
    else w.bit(0) // frame_cropping_flag
    w.bit(0) // vui_parameters_present
    0x67.toByte +: epbEscape(w.rbsp()) // nal_ref_idc 3, type 7
  }

  /** A minimal real PPS NAL: ids 0/0, the entropy mode bit (CABAC for
    * odd ids), then deterministic-zero tail fields.
    */
  def avcPpsNal(id: Long): Array[Byte] = {
    val (_, _, _, _, _, _, cabac) = avcParams(id)
    val w = new BitWriter
    w.ue(0); w.ue(0) // pps id, sps id
    w.bit(if (cabac) 1 else 0) // entropy_coding_mode_flag
    w.bit(0) // bottom_field_pic_order_in_frame_present
    w.ue(0) // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    w.bit(0); w.bits(0, 2) // weighted_pred, weighted_bipred_idc
    w.ue(0); w.ue(0); w.ue(0) // init_qp/qs_minus26 (se 0 == ue 0), chroma_qp
    w.bit(1); w.bit(0); w.bit(0) // deblocking present, constrained intra, redundant
    0x68.toByte +: epbEscape(w.rbsp()) // nal_ref_idc 3, type 8
  }

  /** Deterministic H.264-in-MP4 payload for `doc_id`: the [[mp4Bytes]]
    * box layout with an `avc1` VisualSampleEntry carrying a real
    * `avcC` AVCDecoderConfigurationRecord (the [[avcSpsNal]] SPS + the
    * [[avcPpsNal]] PPS, 4-byte NAL lengths), and `2 + id mod 4`
    * length-prefixed NAL samples — IDR samples (every 3rd, mirrored by
    * `stss`) carry an SEI NAL before the type-5 slice, non-IDR samples
    * a single type-1 slice, so a sample scanner must skip non-VCL NALs
    * to classify. Frame DECODE stays the documented boundary (no JDK
    * H.264 decoder); this payload family exists so production H.264
    * files yield gated METADATA rows instead of quarantine.
    */
  def mp4AvcBytes(id: Long): Array[Byte] = {
    val (profile, level, mbW, mbH, crop, n, _) = avcParams(id)
    val w = 16 * mbW - 2 * crop
    val h = 16 * mbH - 2 * crop
    def box(typ: String, parts: Array[Byte]*) = mp4Box(typ, parts: _*)
    def u32s(vs: Int*) = mp4U32s(vs: _*)
    def fcc(s: String) = mp4Fcc(s)
    def u16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def nalSample(k: Int): Array[Byte] = {
      val isIdr = k % 3 == 0
      def nal(hdr: Int, len: Int): Array[Byte] =
        u32s(1 + len) ++ (hdr.toByte +: Array.tabulate(len)(j =>
          (java.lang.Math.floorMod(id * 31 + k * 7 + j * 3, 251L) + 1).toByte))
      if (isIdr) nal(0x06, 2 + k % 3) ++ nal(0x65, 3 + k % 4) // SEI + IDR
      else nal(0x41, 3 + k % 4) // non-IDR slice
    }
    val samples = (0 until n).map(nalSample)
    val ftyp = box("ftyp", fcc("isom"), u32s(0x200), fcc("isom"), fcc("avc1"))
    val offsets = samples.scanLeft(ftyp.length + 8)(_ + _.length).init
    val mdat = box("mdat", samples.flatten.toArray)
    val dur = n * 100
    val syncs = (0 until n by 3).map(_ + 1)
    val mvhd = box("mvhd", u32s(0, 0, 0, 1000, dur, 0x00010000),
      u32s(0x01000000, 0, 0),
      u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
      u32s(0, 0, 0, 0, 0, 0, 2))
    val tkhd = box("tkhd", u32s(0x00000007, 0, 0, 1, 0, dur, 0, 0, 0, 0),
      u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
      u32s(w << 16, h << 16))
    val mdhd = box("mdhd", u32s(0, 0, 0, 1000, dur), u32s(0x55c40000))
    val hdlr = box("hdlr", u32s(0, 0), fcc("vide"), u32s(0, 0, 0),
      "GraftVideo".getBytes("US-ASCII"), Array[Byte](0))
    val vmhd = box("vmhd", u32s(1, 0, 0))
    val dinf = box("dinf", box("dref", u32s(0, 1), box("url ", u32s(1))))
    val sps = avcSpsNal(id)
    val pps = avcPpsNal(id)
    val avcC = box("avcC",
      Array[Byte](1, sps(1), sps(2), sps(3), 0xff.toByte, 0xe1.toByte),
      u16(sps.length), sps, Array[Byte](1), u16(pps.length), pps)
    val sampleEntry = box("avc1", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1),
      u32s(0, 0, 0, 0), u32s((w << 16) | h, 0x00480000, 0x00480000, 0),
      u32s(1 << 16), new Array[Byte](30), u32s((24 << 16) | 0xffff), avcC)
    val stsd = box("stsd", u32s(0, 1), sampleEntry)
    val stts = box("stts", u32s(0, 1, n, 100))
    val stss = box("stss", u32s(0 +: syncs.length +: syncs: _*))
    val stsc = box("stsc", u32s(0, 1, 1, 1, 1))
    val stsz = box("stsz", u32s(0 +: 0 +: n +: samples.map(_.length): _*))
    val stco = box("stco", u32s(0 +: n +: offsets: _*))
    val stbl = box("stbl", stsd, stts, stss, stsc, stsz, stco)
    val moov = box("moov", mvhd,
      box("trak", tkhd, box("mdia", mdhd, hdlr, box("minf", vmhd, dinf, stbl))))
    ftyp ++ mdat ++ moov
  }

  /** Synthetic H.264-MP4 payload table (the q224 corpus). */
  def mp4AvcPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, mp4AvcBytes(id))).toDF("doc_id", "payload")
  }

  /** One H.264 stream-metadata row from [[h264MetaOf]]. */
  final case class H264Meta(
      doc_id: Long, codec: String, profile_idc: Int, level_idc: Int,
      entropy: String, width: Int, height: Int, mb_width: Int,
      mb_height: Int, n_samples: Int, n_keyframes: Int, n_idr: Int,
      stss_consistent: Boolean, geometry_consistent: Boolean,
      parse_ok: Boolean)

  /** REAL H.264 metadata extraction — the leg that turns production
    * AVC files from quarantine into gated rows: box-tree walk to the
    * `avc1` sample entry, `avcC` record parse, emulation-prevention
    * strip, bit-exact Exp-Golomb SPS decode (profile/level, mb grid,
    * frame-cropping arithmetic incl. the 4:2:0 crop units), PPS
    * entropy-mode bit, RFC 6381 codec string, and a NAL-type scan of
    * every sample (stsc/stco/stsz-resolved offsets) cross-checked
    * against the `stss` sync table. Frame decode stays the documented
    * boundary; everything a catalog needs short of pixels is here.
    *
    * Scale shape: pure per-payload map work (one pass per video, no
    * shuffle until the presentation sort) — identical to q199's.
    */
  def h264MetaOf(payloads: DataFrame): Dataset[H264Meta] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        def u32(b: Array[Byte], at: Int): Long =
          (b(at) & 0xffL) << 24 | (b(at + 1) & 0xffL) << 16 |
            (b(at + 2) & 0xffL) << 8 | (b(at + 3) & 0xffL)
        def u16(b: Array[Byte], at: Int): Int =
          (b(at) & 0xff) << 8 | (b(at + 1) & 0xff)
        def fcc(b: Array[Byte], at: Int): String =
          new String(b, at, 4, "US-ASCII")
        def walk(b: Array[Byte], from: Int, until: Int): List[(String, (Int, Int))] = {
          var pos = from
          var bad = false
          val out = List.newBuilder[(String, (Int, Int))]
          while (!bad && pos + 8 <= until) {
            val sz0 = u32(b, pos)
            val typ = fcc(b, pos + 4)
            val (hdr, sz) =
              if (sz0 == 0L) (8, (until - pos).toLong)
              else (8, sz0)
            if (sz < hdr || pos + sz > until) bad = true
            else { out += typ -> (pos + hdr, pos + sz.toInt); pos += sz.toInt }
          }
          out.result()
        }
        def child(kids: List[(String, (Int, Int))], typ: String) =
          kids.collectFirst { case (`typ`, span) => span }
        def countAt(b: Array[Byte], span: (Int, Int), skip: Int,
            per: Int): Option[Int] = {
          val (at, end) = span
          if (at + skip + 4 > end) None
          else {
            val n = u32(b, at + skip)
            if (at + skip + 4 + n * per.toLong > end) None else Some(n.toInt)
          }
        }
        // strip 00 00 03 emulation-prevention bytes from an RBSP slice
        def epbStrip(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
          var zeros = 0
          var i = from
          while (i < until) {
            val v = b(i)
            if (zeros >= 2 && v == 3) zeros = 0 // the escape byte itself
            else { out += v; zeros = if (v == 0) zeros + 1 else 0 }
            i += 1
          }
          out.toArray
        }
        final class BitReader(b: Array[Byte]) {
          private var pos = 0
          def bit(): Int = {
            val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
            pos += 1; v
          }
          def bits(n: Int): Long = {
            var v = 0L; var i = 0
            while (i < n) { v = (v << 1) | bit(); i += 1 }
            v
          }
          def ue(): Long = {
            var m = 0
            while (bit() == 0) { m += 1; require(m < 32, "ue overflow") }
            (1L << m) - 1 + bits(m)
          }
          def se(): Long = { val k = ue(); if (k % 2 == 1) (k + 1) / 2 else -(k / 2) }
        }
        // (profile, level, mbW, mbHeightUnits·interlace, width, height)
        def parseSps(nal: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int)] =
          try {
            val r = epbStrip(nal, 1, nal.length)
            val profile = r(0) & 0xff
            val level = r(2) & 0xff
            val br = new BitReader(r.drop(3))
            br.ue() // sps id
            val chroma =
              if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128).contains(profile)) {
                val c = br.ue()
                if (c == 3) br.bit() // separate_colour_plane
                br.ue(); br.ue() // bit depths
                br.bit() // transform bypass
                if (br.bit() == 1) return None // scaling matrices unsupported
                c.toInt
              } else 1 // absent → 4:2:0
            br.ue() // log2_max_frame_num_minus4
            br.ue() match {
              case 0 => br.ue()
              case 1 =>
                br.bit(); br.se(); br.se()
                (0L until br.ue()).foreach(_ => br.se())
              case _ => ()
            }
            br.ue() // max_num_ref_frames
            br.bit() // gaps allowed
            val mbW = br.ue().toInt + 1
            val mapH = br.ue().toInt + 1
            val frameMbsOnly = br.bit()
            if (frameMbsOnly == 0) br.bit() // mb_adaptive
            br.bit() // direct_8x8
            val mbH = (2 - frameMbsOnly) * mapH
            val (cux, cuy) = chroma match {
              case 0 => (1, 2 - frameMbsOnly)
              case 1 => (2, 2 * (2 - frameMbsOnly))
              case 2 => (2, 2 - frameMbsOnly)
              case _ => (1, 2 - frameMbsOnly)
            }
            val (cl, cr, ct, cb) =
              if (br.bit() == 1) (br.ue(), br.ue(), br.ue(), br.ue())
              else (0L, 0L, 0L, 0L)
            Some((profile, level, mbW, mbH,
              16 * mbW - (cux * (cl + cr)).toInt,
              16 * mbH - (cuy * (ct + cb)).toInt))
          } catch { case _: RuntimeException => None }
        def parsePps(nal: Array[Byte]): Option[Boolean] =
          try {
            val br = new BitReader(epbStrip(nal, 1, nal.length))
            br.ue(); br.ue()
            Some(br.bit() == 1)
          } catch { case _: RuntimeException => None }
        def quarantine(id: Long) = H264Meta(id, "", 0, 0, "", 0, 0, 0, 0,
          0, 0, 0, stss_consistent = false, geometry_consistent = false,
          parse_ok = false)
        it.map { case (id, bytes) =>
          val parsed: Option[H264Meta] =
            try {
              val top = walk(bytes, 0, bytes.length)
              if (child(top, "ftyp").isEmpty) None
              else for {
                moovS <- child(top, "moov")
                trak <- walk(bytes, moovS._1, moovS._2)
                  .collectFirst { case ("trak", s) => walk(bytes, s._1, s._2) }
                tkhd <- child(trak, "tkhd")
                mdia <- child(trak, "mdia").map(s => walk(bytes, s._1, s._2))
                minf <- child(mdia, "minf").map(s => walk(bytes, s._1, s._2))
                stbl <- child(minf, "stbl").map(s => walk(bytes, s._1, s._2))
                stsd <- child(stbl, "stsd")
                entry <- walk(bytes, stsd._1 + 8, stsd._2).headOption
                if entry._1 == "avc1"
                avcC <- child(walk(bytes, entry._2._1 + 78, entry._2._2), "avcC")
                nSps = u32(bytes, avcC._1 + 5) & 0x1f
                if nSps >= 1
                spsLen = u16(bytes, avcC._1 + 6)
                sps <- parseSps(java.util.Arrays.copyOfRange(
                  bytes, avcC._1 + 8, avcC._1 + 8 + spsLen))
                cabac <- {
                  val ppsAt = avcC._1 + 8 + spsLen
                  val ppsLen = u16(bytes, ppsAt + 1)
                  parsePps(java.util.Arrays.copyOfRange(
                    bytes, ppsAt + 3, ppsAt + 3 + ppsLen))
                }
                nalLenSize = ((bytes(avcC._1 + 4) & 0x3) + 1)
                stszN <- countAt(bytes, child(stbl, "stsz").get, 8, 4)
                sizes = (0 until stszN).map(i =>
                  u32(bytes, child(stbl, "stsz").get._1 + 12 + 4 * i).toInt)
                stcoS <- child(stbl, "stco")
                stcoN <- countAt(bytes, stcoS, 4, 4)
                stscS <- child(stbl, "stsc")
                stscN <- countAt(bytes, stscS, 4, 12)
                syncs <- child(stbl, "stss").flatMap(s =>
                  countAt(bytes, s, 4, 4).map(n => (0 until n)
                    .map(i => u32(bytes, s._1 + 8 + 4 * i).toInt).toSet))
              } yield {
                // chunk → samples-per-chunk from stsc run-length rows
                val stscRows = (0 until stscN).map { i =>
                  (u32(bytes, stscS._1 + 8 + 12 * i).toInt, // first chunk
                    u32(bytes, stscS._1 + 12 + 12 * i).toInt) // samples/chunk
                }
                val sampleOffsets = {
                  val offs = IndexedSeq.newBuilder[Long]
                  var sample = 0
                  var chunk = 1
                  while (sample < stszN && chunk <= stcoN) {
                    val spc = stscRows.takeWhile(_._1 <= chunk).lastOption
                      .map(_._2).getOrElse(1)
                    var at = u32(bytes, stcoS._1 + 8 + 4 * (chunk - 1))
                    var k = 0
                    while (k < spc && sample < stszN) {
                      offs += at; at += sizes(sample); sample += 1; k += 1
                    }
                    chunk += 1
                  }
                  offs.result()
                }
                // NAL-type scan of every sample: IDR iff any type-5 NAL
                var nIdr = 0
                val idrSet = scala.collection.mutable.Set.empty[Int]
                sampleOffsets.zipWithIndex.foreach { case (off0, si) =>
                  var off = off0
                  val end = off0 + sizes(si)
                  var idr = false
                  while (off + nalLenSize < end) {
                    val len =
                      if (nalLenSize == 4) u32(bytes, off.toInt)
                      else (0 until nalLenSize).foldLeft(0L)((a, i) =>
                        (a << 8) | (bytes(off.toInt + i) & 0xffL))
                    val t = bytes(off.toInt + nalLenSize) & 0x1f
                    if (t == 5) idr = true
                    off += nalLenSize + len
                  }
                  if (idr) { nIdr += 1; idrSet += si + 1 }
                }
                val (profile, level, mbW, mbH, wSps, hSps) = sps
                val entryW = u16(bytes, entry._2._1 + 24)
                val entryH = u16(bytes, entry._2._1 + 26)
                val tkW = (u32(bytes, tkhd._1 + 76) >> 16).toInt
                val tkH = (u32(bytes, tkhd._1 + 80) >> 16).toInt
                H264Meta(id,
                  f"avc1.$profile%02X${bytes(avcC._1 + 2) & 0xff}%02X$level%02X",
                  profile, level, if (cabac) "cabac" else "cavlc",
                  wSps, hSps, mbW, mbH, stszN, syncs.size, nIdr,
                  stss_consistent = syncs == idrSet.toSet,
                  geometry_consistent =
                    wSps == entryW && hSps == entryH &&
                      wSps == tkW && hSps == tkH,
                  parse_ok = true)
              }
            } catch { case _: RuntimeException => None }
          parsed.getOrElse(quarantine(id))
        }
      }
  }

  /** q224 — H.264 METADATA audit over the synthetic AVC corpus: see
    * [[h264MetaOf]]; gated against DuckDB's analytic regeneration of
    * the [[avcParams]] closed forms (profile/level/entropy, crop-
    * adjusted geometry, sample/keyframe counts, both consistency
    * flags) — every gated value must survive the real avcC + SPS/PPS
    * bit parse and the full sample NAL scan.
    */
  def h264Meta(spark: SparkSession, dir: String): DataFrame =
    h264MetaOf(mp4AvcPayloads(spark, dir)).toDF().orderBy("doc_id")

  /** Deterministic JPEG-with-Exif payload for `doc_id`: SOI + APP1
    * ("Exif\0\0" + a real TIFF structure) + EOI. The TIFF carries BOTH
    * byte orders (id-even → "II" little-endian, odd → "MM" big-endian
    * — a parser that silently assumes one is the classic EXIF bug),
    * IFD0 with Make/Model/Orientation/DateTime and an Exif-IFD
    * pointer, and the sub-IFD with ISO and pixel dimensions; ASCII
    * values live in the data area behind real value offsets, SHORTs
    * and LONGs inline left-justified per TIFF 6.0. Every field derives
    * from id arithmetic, so the oracle regenerates the expected
    * metadata analytically. Hostile arms (precedence order, the q232
    * id-mod discipline): id%17 → TIFF truncated mid-IFD, id%19 → the
    * declared entry count (0xFFFF) overruns the segment (the
    * extent-bound-BEFORE-allocation window), id%23 → an ASCII value
    * offset beyond the TIFF extent.
    */
  def exifJpegBytes(id: Long): Array[Byte] = {
    def m(n: Long): Long = java.lang.Math.floorMod(id, n)
    val little = m(2) == 0
    val armTrunc = m(17) == 0
    val armCount = !armTrunc && m(19) == 0
    val armOffset = !armTrunc && !armCount && m(23) == 0
    val make = s"cam${m(7)}"
    val model = s"mod${m(13)}"
    val dt = f"2024:${1 + m(12)}%02d:${1 + m(28)}%02d ${m(24)}%02d:00:00"
    val mLen = make.length + 1
    val moLen = model.length + 1
    val ifd0Off = 8
    val exifOff = ifd0Off + 2 + 5 * 12 + 4 // 74
    val dataOff = exifOff + 2 + 3 * 12 + 4 // 116
    val makeOff = dataOff
    val modelOff = makeOff + mLen
    val dtOff = modelOff + moLen
    val tiffLen = dtOff + 20
    val bb = java.nio.ByteBuffer.allocate(tiffLen).order(
      if (little) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    bb.put((if (little) "II" else "MM").getBytes("US-ASCII"))
      .putShort(42).putInt(ifd0Off)
    def entry(tag: Int, typ: Int, cnt: Long, inlineShort: Int = -1,
        inlineLong: Long = -1L): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt.toInt)
      if (inlineShort >= 0) bb.putShort(inlineShort.toShort).putShort(0)
      else bb.putInt(inlineLong.toInt)
    }
    bb.putShort(if (armCount) 0xFFFF.toShort else 5)
    entry(0x010F, 2, mLen,
      inlineLong = if (armOffset) tiffLen + 1000L else makeOff.toLong)
    entry(0x0110, 2, moLen, inlineLong = modelOff.toLong)
    entry(0x0112, 3, 1, inlineShort = (1 + m(8)).toInt)
    entry(0x0132, 2, 20, inlineLong = dtOff.toLong)
    entry(0x8769, 4, 1, inlineLong = exifOff.toLong)
    bb.putInt(0) // next IFD
    bb.putShort(3)
    entry(0x8827, 3, 1, inlineShort = (100 * (1 + m(5))).toInt)
    entry(0xA002, 4, 1, inlineLong = 8L * (1 + m(4)))
    entry(0xA003, 4, 1, inlineLong = 8L * (1 + m(3)))
    bb.putInt(0)
    bb.put((make + "\u0000").getBytes("US-ASCII"))
      .put((model + "\u0000").getBytes("US-ASCII"))
      .put((dt + "\u0000").getBytes("US-ASCII"))
    val tiff =
      if (armTrunc) java.util.Arrays.copyOfRange(bb.array(), 0, 9)
      else bb.array()
    val payload = "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff
    val out = java.nio.ByteBuffer.allocate(2 + 4 + payload.length + 2)
    out.put(0xFF.toByte).put(0xD8.toByte) // SOI
      .put(0xFF.toByte).put(0xE1.toByte) // APP1
      .putShort((payload.length + 2).toShort).put(payload)
      .put(0xFF.toByte).put(0xD9.toByte) // EOI
    out.array()
  }

  /** Synthetic EXIF-photo table (the q154/q196 fixture discipline). */
  def exifPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id").cast("long"))
      .as[Long].map(id => (id, exifJpegBytes(id))).toDF("doc_id", "payload")
  }

  /** One parsed EXIF record; quarantined payloads report
    * `exif_ok = false` with empty/zero fields.
    */
  final case class ExifMeta(
      doc_id: Long, exif_ok: Boolean, byte_order: String, n_entries: Int,
      make: String, model: String, orientation: Int, taken_at: String,
      px_w: Long, px_h: Long, iso: Int)

  /** REAL EXIF/TIFF walk: JPEG segment scan → APP1 "Exif\0\0" → TIFF
    * header (either byte order, magic 42) → IFD0 entries → Exif
    * sub-IFD, with EVERY declared count and value offset
    * extent-checked against the segment BEFORE any read (the fMP4
    * lesson: a lying count must quarantine, not allocate); ASCII
    * values resolve inline-or-offset per TIFF 6.0 left-justification.
    * Pure per-doc map — the metadata-extraction step of an image
    * ingest pipeline, shuffle-free until the presentation sort.
    */
  private def parseExifJpeg(id: Long, b: Array[Byte]): ExifMeta = {
    val fail = ExifMeta(id, exif_ok = false, "", 0, "", "", 0, "", 0L, 0L, 0)
    try {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return fail
      var p = 2
      var tiff: Array[Byte] = null
      var guard = 0
      while (tiff == null && p + 4 <= b.length && guard < 64) {
        guard += 1
        if ((b(p) & 0xff) != 0xff) return fail
        val marker = b(p + 1) & 0xff
        if (marker == 0xd9 || marker == 0xda) return fail
        val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > b.length) return fail
        if (marker == 0xe1 && len >= 8 &&
            new String(b, p + 4, 6, "US-ASCII") == "Exif\u0000\u0000")
          tiff = java.util.Arrays.copyOfRange(b, p + 10, p + 2 + len)
        p += 2 + len
      }
      if (tiff == null) return fail
      val n = tiff.length
      if (n < 8) return fail
      val little = tiff(0) == 'I' && tiff(1) == 'I'
      if (!little && !(tiff(0) == 'M' && tiff(1) == 'M')) return fail
      def u16(at: Long): Int = {
        if (at < 0 || at + 2 > n) return -1
        val a = at.toInt
        if (little) (tiff(a) & 0xff) | ((tiff(a + 1) & 0xff) << 8)
        else ((tiff(a) & 0xff) << 8) | (tiff(a + 1) & 0xff)
      }
      def u32(at: Long): Long = {
        if (at < 0 || at + 4 > n) return -1L
        val a = at.toInt
        if (little)
          (tiff(a) & 0xffL) | ((tiff(a + 1) & 0xffL) << 8) |
            ((tiff(a + 2) & 0xffL) << 16) | ((tiff(a + 3) & 0xffL) << 24)
        else
          ((tiff(a) & 0xffL) << 24) | ((tiff(a + 1) & 0xffL) << 16) |
            ((tiff(a + 2) & 0xffL) << 8) | (tiff(a + 3) & 0xffL)
      }
      if (u16(2) != 42) return fail
      var make, model, dt = null: String
      var orient, iso = -1
      var xw, yh, exifPtr = -1L
      var entries = 0
      def ascii(e: Long, cnt: Long): String = {
        if (cnt < 1 || cnt > n) return null
        val src = if (cnt <= 4) e + 8 else u32(e + 8)
        if (src < 0 || src + cnt > n) return null
        val raw = new String(tiff, src.toInt, cnt.toInt, "US-ASCII")
        if (raw.nonEmpty && raw.last == '\u0000') raw.dropRight(1) else raw
      }
      def walkIfd(off: Long, sub: Boolean): Boolean = {
        val cnt = u16(off)
        // the extent bound BEFORE iteration: a declared count whose
        // entry table overruns the segment is hostile, not sparse
        if (cnt < 0 || off + 2 + cnt.toLong * 12 + 4 > n) return false
        var i = 0
        while (i < cnt) {
          val e = off + 2 + i * 12L
          val tag = u16(e)
          val typ = u16(e + 2)
          val c = u32(e + 4)
          (tag, typ) match {
            case (0x010F, 2) => make = ascii(e, c); if (make == null) return false
            case (0x0110, 2) => model = ascii(e, c); if (model == null) return false
            case (0x0132, 2) => dt = ascii(e, c); if (dt == null) return false
            case (0x0112, 3) => orient = u16(e + 8)
            case (0x8769, 4) => exifPtr = u32(e + 8)
            case (0x8827, 3) => iso = u16(e + 8)
            case (0xA002, 4) => xw = u32(e + 8)
            case (0xA003, 4) => yh = u32(e + 8)
            case _ => // unknown tags skip (forward compatibility)
          }
          entries += 1
          i += 1
        }
        if (!sub && exifPtr >= 0) walkIfd(exifPtr, sub = true) else true
      }
      if (!walkIfd(u32(4), sub = false)) return fail
      if (make == null || model == null || dt == null || orient < 0 ||
        iso < 0 || xw < 0 || yh < 0) return fail
      ExifMeta(id, exif_ok = true, if (little) "II" else "MM", entries,
        make, model, orient, dt, xw, yh, iso)
    } catch { case _: Exception => fail }
  }

  /** q250 — EXIF metadata audit over the synthetic photo corpus: the
    * REAL TIFF/IFD walk per payload ([[parseExifJpeg]]) gated against
    * DuckDB's analytic regeneration of every field from the id
    * arithmetic. Map-only until the presentation sort; quarantine
    * arms (truncation, count overrun, offset overrun) report
    * `exif_ok = false`, never throw.
    */
  def exifMeta(spark: SparkSession, dir: String): DataFrame =
    exifMetaFrom(exifPayloads(spark, dir))

  def exifMetaFrom(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, b) => parseExifJpeg(id, b) })
      .toDF().orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q250_exif_meta" -> (exifMeta _),
    "q30_media_meta" -> (mediaMeta _),
    "q224_h264_meta" -> (h264Meta _),
    "q231_warc_ingest" -> (graft.sources.Warc.warcIngest _),
    "q154_audio_audit" -> (audioAudit _),
    "q172_video_frames" -> (videoFrames _),
    "q196_avi_frames" -> (aviFrames _),
    "q197_video_neardup" -> (videoNearDup _),
    "q199_mp4_keyframes" -> (mp4Keyframes _),
    "q208_audio_energy" -> (audioEnergy _),
    "q213_mp4_fragmented" -> (mp4Fragmented _),
    "q217_audio_tones" -> (audioTones _))

  /** Spark-SQL form for [[SqlSurface]] (not a dialect rewrite: DuckDB
    * spells the binary length/hash as `encode`/`sha256`, Spark as a
    * BINARY cast + `sha2`).
    */
  val sparkSql: Map[String, String] = Map(
    "q30_media_meta" ->
      """WITH s AS (SELECT doc_id, octet_length(text) AS n_bytes,
        |    sha2(CAST(text AS BINARY), 256) AS sha FROM documents)
        |SELECT doc_id, n_bytes, sha,
        |  64 + CAST(conv(substring(sha, 1, 6), 16, 10) AS BIGINT) % 1217 AS width,
        |  64 + CAST(conv(substring(sha, 7, 6), 16, 10) AS BIGINT) % 961 AS height,
        |  1 + CAST(conv(substring(sha, 13, 6), 16, 10) AS BIGINT) % 32 AS n_frames
        |FROM s ORDER BY doc_id""".stripMargin)

  /** Shared analytic regeneration of the q196 sampled-frame features
    * (the aviBytes closed form — see the q196 entry for why the lossy
    * codec is exact): the `feat` CTE both q196 and q197 open with.
    * Pixel spine is a constant-bound range join — max w·h = 24·16 =
    * 384.
    */
  private def aviFeatCte: String =
    s"""f AS (
       |  SELECT doc_id,
       |    CAST(2 + doc_id % 6 AS INTEGER) AS n_frames,
       |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
       |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS height
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, n_frames, width, height,
       |    CAST(t.i * n_frames // least($AviPerDoc, n_frames)
       |      AS INTEGER) AS frame_idx
       |  FROM f JOIN range(0, $AviPerDoc) t(i)
       |    ON t.i < least($AviPerDoc, n_frames)),
       |px AS (
       |  SELECT fr.doc_id, fr.frame_idx, fr.n_frames, fr.width,
       |    fr.height, p.p AS p,
       |    ((fr.doc_id % 96) * 31 + fr.frame_idx * 17
       |      + (((p.p // fr.width) // 8) * (fr.width // 8)
       |        + (p.p % fr.width) // 8) * 11) % 256 AS v
       |  FROM fr JOIN range(0, 384) p(p) ON p.p < fr.width * fr.height),
       |feat AS (
       |  SELECT doc_id, frame_idx, n_frames, width, height,
       |    CAST(sum(v) AS BIGINT) AS sum_luma,
       |    CAST(sum((p + 1) * v) AS BIGINT) AS checksum
       |  FROM px GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  val oracle: Map[String, String] = Map(
    // DuckDB regenerates every EXIF field from the id arithmetic; the
    // Spark side must recover them through the REAL two-byte-order
    // TIFF/IFD walk (nothing echoed); the three hostile arms must
    // quarantine exactly
    "q250_exif_meta" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    (doc_id % 17 = 0 OR doc_id % 19 = 0 OR doc_id % 23 = 0) AS bad
        |  FROM documents)
        |SELECT doc_id, NOT bad AS exif_ok,
        |  CASE WHEN bad THEN ''
        |    WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(CASE WHEN bad THEN 0 ELSE 8 END AS INTEGER) AS n_entries,
        |  CASE WHEN bad THEN ''
        |    ELSE 'cam' || CAST(doc_id % 7 AS VARCHAR) END AS make,
        |  CASE WHEN bad THEN ''
        |    ELSE 'mod' || CAST(doc_id % 13 AS VARCHAR) END AS model,
        |  CAST(CASE WHEN bad THEN 0 ELSE 1 + doc_id % 8 END AS INTEGER)
        |    AS orientation,
        |  CASE WHEN bad THEN '' ELSE '2024:' ||
        |    lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' ' ||
        |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00'
        |    END AS taken_at,
        |  CAST(CASE WHEN bad THEN 0 ELSE 8 * (1 + doc_id % 4) END AS BIGINT)
        |    AS px_w,
        |  CAST(CASE WHEN bad THEN 0 ELSE 8 * (1 + doc_id % 3) END AS BIGINT)
        |    AS px_h,
        |  CAST(CASE WHEN bad THEN 0 ELSE 100 * (1 + doc_id % 5) END
        |    AS INTEGER) AS iso
        |FROM f ORDER BY doc_id""".stripMargin,
    // DuckDB regenerates the Warc fixture closed forms (URI, status,
    // the doc text as the 200 body, the 404 stub, the gzip arm flag);
    // every value must survive the Spark side's REAL gzip-member
    // inflate + Content-Length record walk + HTTP split + SHA-256
    // digest (nothing is echoed)
    "q231_warc_ingest" ->
      """SELECT doc_id,
        |  doc_id % 2 = 1 AS compressed,
        |  CAST(3 AS INTEGER) AS n_records,
        |  CAST(1 AS INTEGER) AS n_request,
        |  CAST(1 AS INTEGER) AS n_response,
        |  'https://site-' || CAST(doc_id % 97 AS VARCHAR) ||
        |    '.example.org/page/' || CAST(doc_id AS VARCHAR) AS uri,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
        |    AS INTEGER) AS http_status,
        |  'text/plain; charset=utf-8' AS content_type,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 10
        |    ELSE length(text) END AS BIGINT) AS payload_len,
        |  sha256(CASE WHEN doc_id % 13 = 0 THEN 'not found' || chr(10)
        |    ELSE text END) AS payload_sha256,
        |  TRUE AS parse_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB regenerates the avcParams closed forms; every value must
    // survive the Spark side's REAL avcC walk + EPB strip + Exp-Golomb
    // SPS/PPS decode + full sample NAL scan (nothing is echoed)
    "q224_h264_meta" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS profile_idc,
        |    CAST(30 + 10 * (doc_id % 2) AS INTEGER) AS level_idc,
        |    CAST(4 + doc_id % 4 AS INTEGER) AS mb_width,
        |    CAST(3 + doc_id % 3 AS INTEGER) AS mb_height,
        |    CAST(doc_id % 2 AS INTEGER) AS crop,
        |    CAST(2 + doc_id % 4 AS INTEGER) AS n_samples
        |  FROM documents)
        |SELECT doc_id,
        |  'avc1.' ||
        |    CASE profile_idc WHEN 66 THEN '42' WHEN 77 THEN '4D'
        |      ELSE '64' END ||
        |    '00' || CASE level_idc WHEN 30 THEN '1E' ELSE '28' END AS codec,
        |  profile_idc, level_idc,
        |  CASE WHEN doc_id % 2 = 1 THEN 'cabac' ELSE 'cavlc' END AS entropy,
        |  CAST(16 * mb_width - 2 * crop AS INTEGER) AS width,
        |  CAST(16 * mb_height - 2 * crop AS INTEGER) AS height,
        |  mb_width, mb_height, n_samples,
        |  CAST((n_samples + 2) // 3 AS INTEGER) AS n_keyframes,
        |  CAST((n_samples + 2) // 3 AS INTEGER) AS n_idr,
        |  TRUE AS stss_consistent, TRUE AS geometry_consistent,
        |  TRUE AS parse_ok
        |FROM f ORDER BY doc_id""".stripMargin,
    // DuckDB REGENERATES every sampled keyframe analytically (the
    // mp4Bytes closed form: n = 3+id%5 samples, sync at 0,3,6 → n_sync
    // = (n+2)//3, ≤ Mp4PerDoc evenly spaced over the SYNC LIST, block
    // gray ((id%48)·29 + k·13 + b·7) % 256) and must agree with the
    // real box-tree parse + stss-seeked javax.imageio JPEG decode —
    // exact despite the lossy codec because every 8×8 block is
    // constant (see AviPerDoc). Pixel spine max w·h = 16·24 = 384.
    "q199_mp4_keyframes" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(3 + doc_id % 5 AS INTEGER) AS n_frames,
         |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS width,
         |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS height,
         |    CAST((5 + doc_id % 5) // 3 AS INTEGER) AS n_sync
         |  FROM documents),
         |fr AS (
         |  SELECT doc_id, n_frames, n_sync, width, height,
         |    CAST((t.i * n_sync // least($Mp4PerDoc, n_sync)) * 3
         |      AS INTEGER) AS sample_idx
         |  FROM f JOIN range(0, $Mp4PerDoc) t(i)
         |    ON t.i < least($Mp4PerDoc, n_sync)),
         |px AS (
         |  SELECT fr.doc_id, fr.sample_idx, fr.n_frames, fr.n_sync,
         |    fr.width, fr.height, p.p AS p,
         |    ((fr.doc_id % 48) * 29 + fr.sample_idx * 13
         |      + (((p.p // fr.width) // 8) * (fr.width // 8)
         |        + (p.p % fr.width) // 8) * 7) % 256 AS v
         |  FROM fr JOIN range(0, 384) p(p) ON p.p < fr.width * fr.height)
         |SELECT doc_id, sample_idx, n_frames, n_sync, width, height,
         |  CAST(n_frames * 100 AS BIGINT) AS duration_ms,
         |  'jpeg' AS codec, TRUE AS decode_ok,
         |  CAST(sum(v) AS BIGINT) AS sum_luma,
         |  CAST(sum((p + 1) * v) AS BIGINT) AS checksum
         |FROM px GROUP BY 1, 2, 3, 4, 5, 6
         |ORDER BY doc_id, sample_idx""".stripMargin,
    // DuckDB REPLAYS the Goertzel recursion bit-for-bit over the
    // analytically-regenerated samples: one recursive-CTE row per
    // (doc, full window) per step, the SAME fixed-order IEEE chain
    // ((x + (c·s1)) − s2) with the SHARED GoertzelC literals; powers
    // clamped at 0 (|DFT|² float noise must not leak −0.000000),
    // argmax replicated with the first-wins tie rule
    "q217_audio_tones" -> {
      val Seq(c0, c1, c2) = GoertzelC
      s"""WITH RECURSIVE f AS (SELECT doc_id,
         |    CAST(800 + (doc_id * 37) % 1600 AS BIGINT) AS n,
         |    CAST(1 + doc_id % 13 AS BIGINT) AS step,
         |    CAST(doc_id * 31 AS BIGINT) AS base
         |  FROM documents),
         |w AS (SELECT doc_id, step, base, CAST(t.i AS INT) AS win_idx
         |  FROM f JOIN range(0, 12) t(i) ON t.i < n // $AudioWin),
         |rec(doc_id, step, base, win_idx, i, s1a, s2a, s1b, s2b, s1c, s2c) AS (
         |  SELECT doc_id, step, base, win_idx, 0,
         |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE) FROM w
         |  UNION ALL
         |  SELECT doc_id, step, base, win_idx, i + 1,
         |    ((x + ($c0 * s1a)) - s2a), s1a,
         |    ((x + ($c1 * s1b)) - s2b), s1b,
         |    ((x + ($c2 * s1c)) - s2c), s1c
         |  FROM (SELECT *,
         |      CAST((128 + step * (win_idx * $AudioWin + i) + base) % 256
         |        AS DOUBLE) - 128 AS x
         |    FROM rec WHERE i < $AudioWin)),
         |p AS (SELECT doc_id, win_idx,
         |    greatest(((s1a*s1a) + (s2a*s2a)) - (($c0 * s1a) * s2a), 0.0) AS pa,
         |    greatest(((s1b*s1b) + (s2b*s2b)) - (($c1 * s1b) * s2b), 0.0) AS pb,
         |    greatest(((s1c*s1c) + (s2c*s2c)) - (($c2 * s1c) * s2c), 0.0) AS pc
         |  FROM rec WHERE i = $AudioWin)
         |SELECT doc_id, win_idx, TRUE AS decode_ok,
         |  CAST($AudioWin AS BIGINT) AS n_frames,
         |  round(pa / $WinSq, 6) AS p_bin8, round(pb / $WinSq, 6) AS p_bin16,
         |  round(pc / $WinSq, 6) AS p_bin32,
         |  CAST(CASE WHEN pc > greatest(pa, pb) THEN ${GoertzelBins(2)}
         |    WHEN pb > pa THEN ${GoertzelBins(1)}
         |    ELSE ${GoertzelBins(0)} END AS INT) AS dominant_bin,
         |  CAST(CASE WHEN pc > greatest(pa, pb) THEN ${GoertzelBins(2)}
         |    WHEN pb > pa THEN ${GoertzelBins(1)}
         |    ELSE ${GoertzelBins(0)} END * ($WavRate / $AudioWin) AS INT)
         |    AS dominant_hz
         |FROM p ORDER BY doc_id, win_idx""".stripMargin
    },
    // the q199 closed form over the fragmented layout: identical JPEG
    // samples (so identical luma/checksum), sync cadence from trun
    // flags instead of stss, duration from elst (id%3==0: +500 ms pad)
    // or mehd
    "q213_mp4_fragmented" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(3 + doc_id % 5 AS INTEGER) AS n_frames,
         |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS width,
         |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS height,
         |    CAST((5 + doc_id % 5) // 3 AS INTEGER) AS n_sync
         |  FROM documents),
         |fr AS (
         |  SELECT doc_id, n_frames, n_sync, width, height,
         |    CAST((t.i * n_sync // least($Mp4PerDoc, n_sync)) * 3
         |      AS INTEGER) AS sample_idx
         |  FROM f JOIN range(0, $Mp4PerDoc) t(i)
         |    ON t.i < least($Mp4PerDoc, n_sync)),
         |px AS (
         |  SELECT fr.doc_id, fr.sample_idx, fr.n_frames, fr.n_sync,
         |    fr.width, fr.height, p.p AS p,
         |    ((fr.doc_id % 48) * 29 + fr.sample_idx * 13
         |      + (((p.p // fr.width) // 8) * (fr.width // 8)
         |        + (p.p % fr.width) // 8) * 7) % 256 AS v
         |  FROM fr JOIN range(0, 384) p(p) ON p.p < fr.width * fr.height)
         |SELECT doc_id, sample_idx, n_frames, n_sync, width, height,
         |  CAST(n_frames * 100 + CASE WHEN doc_id % 3 = 0
         |    THEN $Mp4ElstPadMs ELSE 0 END AS BIGINT) AS duration_ms,
         |  'jpeg' AS codec, TRUE AS decode_ok,
         |  CAST(sum(v) AS BIGINT) AS sum_luma,
         |  CAST(sum((p + 1) * v) AS BIGINT) AS checksum
         |FROM px GROUP BY 1, 2, 3, 4, 5, 6
         |ORDER BY doc_id, sample_idx""".stripMargin,
    // DuckDB REGENERATES every sampled MJPEG frame analytically (the
    // aviBytes closed form) and must agree with the real idx1-seek +
    // javax.imageio JPEG decode — exact despite the lossy codec
    // because every 8×8 block is constant (see AviPerDoc).
    "q196_avi_frames" ->
      s"""WITH $aviFeatCte
         |SELECT doc_id, frame_idx, n_frames, width, height,
         |  TRUE AS decode_ok, sum_luma, checksum
         |FROM feat ORDER BY doc_id, frame_idx""".stripMargin,
    // the q197 pair semantics on the same analytic features: videos
    // sharing >= VideoDupMinFrames bit-identical sampled frames at the
    // same index
    "q197_video_neardup" ->
      s"""WITH $aviFeatCte,
         |ns AS (SELECT doc_id, count(*) AS n_sampled FROM feat GROUP BY 1),
         |m AS (SELECT a.doc_id AS video_a, b.doc_id AS video_b,
         |    count(*) AS n_match
         |  FROM feat a JOIN feat b
         |    ON a.frame_idx = b.frame_idx AND a.n_frames = b.n_frames
         |    AND a.width = b.width AND a.height = b.height
         |    AND a.sum_luma = b.sum_luma AND a.checksum = b.checksum
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT m.video_a, m.video_b, m.n_match, ns.n_sampled,
         |  m.n_match = ns.n_sampled AS full_match
         |FROM m JOIN ns ON ns.doc_id = m.video_a
         |WHERE m.n_match >= $VideoDupMinFrames
         |ORDER BY video_a, video_b""".stripMargin,
    // DuckDB REGENERATES every sampled frame analytically (the gifBytes
    // closed form) and must agree with the real javax.imageio
    // multi-frame decode: same evenly-spaced frame indices
    // (i·n // take), same row-major pixel values, same position-weighted
    // checksum. Pixel spine is a constant-bound range join — max
    // w·h = 16·10 = 160.
    "q172_video_frames" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(2 + doc_id % 7 AS INTEGER) AS n_frames,
         |    CAST(8 + doc_id % 9 AS INTEGER) AS width,
         |    CAST(6 + doc_id % 5 AS INTEGER) AS height
         |  FROM documents),
         |fr AS (
         |  SELECT doc_id, n_frames, width, height,
         |    CAST(t.i * n_frames // least($VideoPerDoc, n_frames)
         |      AS INTEGER) AS frame_idx
         |  FROM f JOIN range(0, $VideoPerDoc) t(i)
         |    ON t.i < least($VideoPerDoc, n_frames)),
         |px AS (
         |  SELECT fr.doc_id, fr.frame_idx, fr.n_frames, fr.width,
         |    fr.height, p.p AS p,
         |    (fr.doc_id * 31 + fr.frame_idx * 17 + p.p) % 256 AS v
         |  FROM fr JOIN range(0, 160) p(p) ON p.p < fr.width * fr.height)
         |SELECT doc_id, frame_idx, n_frames, width, height,
         |  TRUE AS decode_ok,
         |  CAST(sum(v) AS BIGINT) AS sum_luma,
         |  CAST(sum((p + 1) * v) AS BIGINT) AS checksum
         |FROM px GROUP BY 1, 2, 3, 4, 5
         |ORDER BY doc_id, frame_idx""".stripMargin,
    // DuckDB REGENERATES the samples analytically (the wavBytes closed
    // form) and must agree with the real javax.sound decode; the index
    // spine is a constant-bound range join (lateral range is
    // unsupported) — max n_frames = 800 + 1599 < 2400. Sums CAST back
    // from HUGEINT.
    "q154_audio_audit" ->
      s"""WITH f AS (
         |  SELECT doc_id, 800 + (doc_id * 37) % 1600 AS n_frames
         |  FROM documents),
         |s AS (
         |  SELECT f.doc_id, f.n_frames, t.i AS i,
         |    (128 + (1 + f.doc_id % 13) * t.i + f.doc_id * 31) % 256 AS v
         |  FROM f JOIN range(0, 2400) t(i) ON t.i < f.n_frames)
         |SELECT doc_id, TRUE AS decode_ok,
         |  CAST(44 + n_frames AS INTEGER) AS n_bytes,
         |  CAST($WavRate AS INTEGER) AS sample_rate,
         |  CAST(1 AS INTEGER) AS channels, CAST(8 AS INTEGER) AS bits,
         |  CAST(n_frames AS BIGINT) AS n_frames,
         |  CAST(n_frames * 125 AS BIGINT) AS duration_us,
         |  CAST(max(abs(v - 128)) AS BIGINT) AS peak_dev,
         |  CAST(sum(abs(v - 128)) AS BIGINT) AS sum_dev,
         |  CAST(sum((i + 1) * v) AS BIGINT) AS checksum
         |FROM s GROUP BY doc_id, n_frames ORDER BY doc_id""".stripMargin,
    // DuckDB regenerates the samples analytically (the wavBytes closed
    // form, the q154 spine) and computes identical per-window integer
    // sums; crossings count strict sign flips WITHIN each window (the
    // lag partitions by (doc, window))
    "q208_audio_energy" ->
      s"""WITH f AS (
         |  SELECT doc_id, 800 + (doc_id * 37) % 1600 AS n_frames
         |  FROM documents),
         |s AS (
         |  SELECT f.doc_id, t.i AS i, CAST(t.i // $AudioWin AS INT) AS win_idx,
         |    (128 + (1 + f.doc_id % 13) * t.i + f.doc_id * 31) % 256 - 128 AS d
         |  FROM f JOIN range(0, 2400) t(i) ON t.i < f.n_frames),
         |w AS (
         |  SELECT doc_id, win_idx, d,
         |    lag(d) OVER (PARTITION BY doc_id, win_idx ORDER BY i) AS pd
         |  FROM s)
         |SELECT doc_id, win_idx, TRUE AS decode_ok,
         |  count(*) AS n_samples,
         |  CAST(sum(abs(d)) AS BIGINT) AS sum_dev,
         |  CAST(sum(d * d) AS BIGINT) AS sum_sq,
         |  CAST(sum(CASE WHEN pd IS NOT NULL AND d * pd < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS crossings
         |FROM w GROUP BY 1, 2 ORDER BY doc_id, win_idx""".stripMargin,
    "q30_media_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  sha256(text) AS sha,
        |  CAST(64 + CAST(('0x' || substring(sha256(text), 1, 6)) AS UBIGINT) % 1217 AS BIGINT) AS width,
        |  CAST(64 + CAST(('0x' || substring(sha256(text), 7, 6)) AS UBIGINT) % 961 AS BIGINT) AS height,
        |  CAST(1 + CAST(('0x' || substring(sha256(text), 13, 6)) AS UBIGINT) % 32 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)
}
