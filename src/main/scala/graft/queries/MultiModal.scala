package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north star): image/audio/video as opaque
  * binary columns with typed metadata, plus decode / feature-extract /
  * resize / frame-sample stages.
  *
  * Every stage operates on REAL bytes end-to-end, pure JVM — decode and
  * feature-extract (round 3), resize re-encode and frame-payload
  * sampling (round 4):
  *  - image: genuine PNG payloads (javax.imageio) decoded back to pixels;
  *  - audio: genuine RIFF/WAVE 16-bit PCM (javax.sound.sampled) decoded
  *    back to samples;
  *  - video: a length-prefixed PNG-frame container ("graft-mpng") — the
  *    frame-parse / frame-sample / per-frame-decode PLUMBING is the real
  *    thing a production pipeline has; only the codec is naive, because
  *    no H.264 decoder exists in a bare JVM (swapping one into the same
  *    per-frame seam is the marked extension point).
  * Everything around the seams is the real Spark shape a production
  * pipeline needs and what the tests pin:
  *  - schema: (id, modality, content: binary, meta: struct) — the binary
  *    payload is opaque to Catalyst, metadata columns stay prunable and
  *    filterable WITHOUT touching payload bytes;
  *  - partitioning: repartition by modality before the heavy stage so one
  *    task loads one codec (cache locality at 1000 executors);
  *  - batch shape: the extract stage runs via mapPartitions draining the
  *    iterator in fixed-size batches — the JVM twin of a Pandas-UDF
  *    `mapInPandas` batch loop, where a real impl would hand each batch
  *    to a native decoder;
  *  - output: fixed-dim Array[Float] features ready for the ANN/similarity
  *    operators (AnnOps / LlmOps).
  */
object MultiModal {

  // ImageIO defaults to FILE-backed stream caches: every read/write
  // spills through a temp file on disk (plus registry contention) —
  // per-frame that dwarfs the actual decode of these small payloads.
  // Memory-backed caching is strictly better at our payload sizes.
  // (Executor JVMs each run this once when the object loads.)
  javax.imageio.ImageIO.setUseCache(false)

  case class MMeta(width: Int, height: Int, sample_rate: Int, n_frames: Int)
  case class MMRecord(id: Long, modality: String, content: Array[Byte],
    meta: MMeta)
  case class MMFeature(id: Long, modality: String, dim: Int,
    features: Array[Float])

  val featureDim = 16
  val batchSize = 32

  /** Deterministic PNG encode (javax.imageio — ships with the JVM, runs
    * headless on any executor): pixel channels are drawn from the seed
    * bytes, so the same document always yields the same image. */
  def pngBytes(w: Int, h: Int, seed: Array[Byte]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = seed(i % seed.length) & 0xff
        val g = seed((i + 7) % seed.length) & 0xff
        val b = seed((i + 13) % seed.length) & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1; i += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic WAV encode (javax.sound.sampled — ships with the JVM,
    * headless-safe for PCM/WAVE): 16-bit mono little-endian samples drawn
    * from the seed bytes. Real RIFF/WAVE container, decodable by any
    * audio stack. */
  def wavBytes(sampleRate: Int, nSamples: Int, seed: Array[Byte]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val raw = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      // ASCII seed bytes are < 128, so samples are nonzero by construction
      val s = (((seed(i % seed.length) & 0xff) - 128) * 256).toShort
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, nSamples.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode: WAV bytes -> PCM samples -> 16-segment energy
    * distribution (each bin = segment energy / total energy, sums to 1). */
  def audioFeatures(content: Array[Byte]): Array[Float] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(content))
    val bytes = in.readAllBytes()
    val n = bytes.length / 2
    val energy = new Array[Double](featureDim)
    var i = 0
    while (i < n) {
      // little-endian 16-bit signed
      val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
      val seg = math.min(i * featureDim / math.max(n, 1), featureDim - 1)
      energy(seg) += s.toDouble * s.toDouble
      i += 1
    }
    val total = energy.sum
    energy.map(e => (e / math.max(total, 1e-12)).toFloat)
  }

  /** Deterministic "graft-mpng" video encode: a 4-byte big-endian frame
    * count, then per frame a 4-byte length + a REAL PNG. Frame pixels are
    * seeded per (frame, seed) so every frame differs deterministically. */
  def mpngBytes(w: Int, h: Int, nFrames: Int, seed: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(nFrames)
    var f = 0
    while (f < nFrames) {
      // rotate the seed per frame so frames differ
      val fseed = seed.drop(f % math.max(seed.length, 1)) ++
        seed.take(f % math.max(seed.length, 1))
      val png = pngBytes(w, h, if (fseed.isEmpty) Array[Byte](1) else fseed)
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** REAL video decode: parse the frame container, decode every `everyK`-th
    * frame via the image path, average their luminance histograms (still
    * sums to 1). The sample-then-decode order is the point: frames that
    * aren't sampled are never decoded. */
  def videoFeatures(content: Array[Byte], everyK: Int): Array[Float] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(content))
    val nFrames = in.readInt()
    val acc = new Array[Float](featureDim)
    var used = 0
    var f = 0
    while (f < nFrames) {
      val len = in.readInt()
      val frame = new Array[Byte](len)
      in.readFully(frame)
      if (f % everyK == 0) {
        val hist = imageFeatures(frame)
        var j = 0
        while (j < featureDim) { acc(j) += hist(j); j += 1 }
        used += 1
      }
      f += 1
    }
    acc.map(_ / math.max(used, 1).toFloat)
  }

  /** REAL image decode: PNG bytes -> pixels -> 16-bin luminance histogram
    * normalized by pixel count (sums to 1). Rec-601 integer luma. */
  def imageFeatures(content: Array[Byte]): Array[Float] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(content))
    val w = img.getWidth; val h = img.getHeight
    val hist = new Array[Float](featureDim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587
          + (rgb & 0xff) * 114) / 1000
        hist(lum * featureDim / 256) += 1f
        x += 1
      }
      y += 1
    }
    hist.map(_ / (w * h).toFloat)
  }

  /** Corpus with real decodable payloads in every modality: PNG images,
    * RIFF/WAVE PCM audio (0.1 s @ 16 kHz), and a naive PNG-frame video
    * container (`mpngBytes`; H.264 is the marked codec extension point).
    * Image dims are kept small (<=64x48) so the per-row encode stays
    * cheap. */
  def corpus(spark: SparkSession, dir: String): Dataset[MMRecord] = {
    import spark.implicits._
    // The payload SYNTHESIS below is the fixture's decode-cost stand-in.
    // It runs in the scan's partitions: on one-row-group input that is a
    // single partition, so it (and every downstream mapPartitions that
    // inherits this partitioning, e.g. frameDedup's decode) runs on one
    // core. No repartition is added here: input of many row groups or
    // files splits the scan on its own, and a forced exchange would be a
    // full-data shuffle there.
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val modality = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val meta = modality match {
          case "image" => MMeta((nChars % 64).toInt + 1,
            (nChars % 48).toInt + 1, 0, 1)
          case "audio" => MMeta(0, 0, 16000, 0)
          case _ => MMeta(32, 24, 0, (nChars % 8).toInt + 1)
        }
        val content = modality match {
          case "image" => // REAL PNG payload
            pngBytes(meta.width, meta.height, text.getBytes("UTF-8"))
          case "audio" => // REAL RIFF/WAVE payload (0.1 s @ 16 kHz)
            wavBytes(meta.sample_rate, 1600, text.getBytes("UTF-8"))
          case _ => // REAL frame container (PNG frames; see mpngBytes)
            mpngBytes(meta.width, meta.height, meta.n_frames,
              text.getBytes("UTF-8"))
        }
        MMRecord(id, modality, content, meta)
      }
  }

  /** The decode seam: every modality decodes its real payload — pixels
    * for images, PCM samples for audio, sampled-then-decoded frames for
    * video (a naive PNG-frame container standing in for H.264; the
    * per-frame decode call is the codec extension point). */
  private def decodeBatch(batch: Seq[MMRecord]): Seq[MMFeature] =
    batch.map { r =>
      val feats = r.modality match {
        case "image" => imageFeatures(r.content)
        case "audio" => audioFeatures(r.content)
        case _ => videoFeatures(r.content, everyK = 2)
      }
      MMFeature(r.id, r.modality, featureDim, feats)
    }

  /** Feature extraction with real batch shape: repartition by
    * (modality, id-salt) — salting keeps batches codec-homogeneous in
    * the common case WITHOUT collapsing parallelism to |modalities|
    * partitions (round-6 perf audit: plain modality partitioning ran
    * the decode on 3 of 32 cores). decodeBatch dispatches per record,
    * so a mixed batch is correct either way. Then drain each partition
    * in fixed-size batches — the JVM analogue of `mapInPandas` over
    * Arrow record batches. */
  def extractFeatures(records: Dataset[MMRecord]): Dataset[MMFeature] = {
    import records.sparkSession.implicits._
    val salt = records.sparkSession.sparkContext.defaultParallelism
    records
      .repartition(col("modality"), pmod(col("id"), lit(salt)))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap(decodeBatch)
      }
  }

  /** Parse a graft-mpng container into its PNG frame payloads. */
  def mpngFrames(content: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(content))
    val n = in.readInt()
    (0 until n).map { _ =>
      val len = in.readInt()
      val frame = new Array[Byte](len)
      in.readFully(frame)
      frame
    }
  }

  /** Assemble PNG frames back into a graft-mpng container. */
  def mpngOf(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(frames.length)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush()
    bos.toByteArray
  }

  /** REAL nearest-neighbor PNG downscale to fit (maxW, maxH), preserving
    * aspect ratio; returns the original bytes untouched when already in
    * bounds. Nearest-neighbor keeps the transform integer-deterministic
    * (no resampling filter float variance across JVMs). */
  def resizePng(content: Array[Byte], maxW: Int, maxH: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(content))
    val w = img.getWidth; val h = img.getHeight
    if (w <= maxW && h <= maxH) return content
    val scale = math.min(maxW.toDouble / w, maxH.toDouble / h)
    val nw = math.max(1, (w * scale).toInt)
    val nh = math.max(1, (h * scale).toInt)
    val out = new java.awt.image.BufferedImage(
      nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        out.setRGB(x, y, img.getRGB(x * w / nw, y * h / nh))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Resize stage (image/video): REAL re-encode in the same batched seam
    * as decode — images are nearest-neighbor downscaled and re-encoded,
    * video containers are rebuilt from per-frame downscales, audio passes
    * through, and metadata is read back from the ACTUAL output (never
    * computed on faith). In-bounds payloads pass through byte-identical. */
  /** Batch unit of the resize seam — same contract as decodeBatch: a
    * native codec implementation would take the whole batch at once. */
  private def resizeBatch(batch: Seq[MMRecord], maxW: Int,
    maxH: Int): Seq[MMRecord] =
    batch.map { r =>
      r.modality match {
        case "audio" => r
        case "image" =>
          val content = resizePng(r.content, maxW, maxH)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(content))
          r.copy(content = content,
            meta = r.meta.copy(width = img.getWidth, height = img.getHeight))
        case _ =>
          val frames = mpngFrames(r.content).map(resizePng(_, maxW, maxH))
          val dims = frames.headOption.map { f =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(f))
            (img.getWidth, img.getHeight)
          }.getOrElse((r.meta.width, r.meta.height))
          r.copy(content = mpngOf(frames),
            meta = r.meta.copy(width = dims._1, height = dims._2))
      }
    }

  def resize(records: Dataset[MMRecord], maxW: Int, maxH: Int): Dataset[MMRecord] = {
    import records.sparkSession.implicits._
    val salt = records.sparkSession.sparkContext.defaultParallelism
    records
      .repartition(col("modality"), pmod(col("id"), lit(salt)))
      .mapPartitions(_.grouped(batchSize).flatMap(resizeBatch(_, maxW, maxH)))
  }

  /** Frame sampling (video): every k-th frame pulled out of the container
    * as its REAL PNG payload — sample-then-decode, so unsampled frames
    * are never even copied out downstream. Output: one row per sampled
    * frame (id, frame_idx, frame binary). */
  /** Batch unit of the frame-sample seam (see resizeBatch). */
  private def sampleBatch(batch: Seq[MMRecord],
    everyK: Int): Seq[(Long, Int, Array[Byte])] =
    batch.flatMap { r =>
      mpngFrames(r.content).zipWithIndex.collect {
        case (frame, idx) if idx % everyK == 0 => (r.id, idx, frame)
      }
    }

  def sampleFrames(records: Dataset[MMRecord], everyK: Int): DataFrame = {
    import records.sparkSession.implicits._
    records.filter(_.modality == "video")
      .mapPartitions(_.grouped(batchSize).flatMap(sampleBatch(_, everyK)))
      .toDF("id", "frame_idx", "frame")
  }

  /** 60-bit hash of a PNG frame's DECODED pixels (row-major ARGB ints) —
    * pixel-level identity, not byte-level: two encoders producing
    * different PNG bytes for the same image still collide, which is the
    * point of frame-level dedup. Same md5-prefix family as h60. */
  def frameHash(png: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val buf = java.nio.ByteBuffer.allocate(8 + img.getWidth * img.getHeight * 4)
    buf.putInt(img.getWidth).putInt(img.getHeight)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { buf.putInt(img.getRGB(x, y)); x += 1 }
      y += 1
    }
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(buf.array()).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** 64-bit perceptual hash (the classic DCT pHash): REAL decode ->
    * deterministic nearest-neighbor resample to a 32x32 Rec-601 luma
    * grid -> 2D DCT-II -> 8x8 low-frequency block -> one bit per
    * coefficient against the block median. Where [[frameHash]] is exact
    * decoded-pixel IDENTITY (re-encode collides, any pixel change
    * splits), pHash is the image NEAR-dup currency: re-encodes hash
    * identically, small pixel perturbations / brightness dithers move
    * only a few of the 64 bits, unrelated images sit ~32 bits apart.
    * Pure JVM double math on deterministic integer luma — the same
    * bytes hash identically on every executor. */
  def pHash(png: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val n = 32
    val luma = new Array[Double](n * n)
    var ty = 0
    while (ty < n) {
      val sy = ty * h / n
      var tx = 0
      while (tx < n) {
        val sx = tx * w / n
        val rgb = img.getRGB(sx, sy)
        luma(ty * n + tx) =
          ((((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587
            + (rgb & 0xff) * 114) / 1000).toDouble
        tx += 1
      }
      ty += 1
    }
    // cos((2x+1) u pi / 64) for u in 0..7, x in 0..31
    val cosT = Array.tabulate(8, n)((u, x) =>
      math.cos((2 * x + 1) * u * math.Pi / (2 * n)))
    val f = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0; var y = 0
        while (y < n) {
          val cv = cosT(v)(y); var x = 0
          while (x < n) { s += luma(y * n + x) * cosT(u)(x) * cv; x += 1 }
          y += 1
        }
        f(v * 8 + u) = s; u += 1
      }
      v += 1
    }
    val sorted = f.sorted
    val med = (sorted(31) + sorted(32)) / 2.0
    var bits = 0L; var i = 0
    while (i < 64) { if (f(i) > med) bits |= (1L << i); i += 1 }
    bits
  }

  /** Image NEAR-dup detection over the image corpus: batched pHash
    * through the same codec seam, then the simhash-family banding — the
    * 64-bit hash splits into 4x16-bit bands, candidates share a band
    * (pigeonhole: any pair within Hamming <= 3 shares at least one
    * intact band — guaranteed recall, exactly q_dedup_simhash's
    * argument), verify = `bit_count(xor)` on the candidate list only.
    * Per-image output row (phash, best mate within Hamming <= 3 or
    * NULL), so the frame is total over the image corpus. Scale shape:
    * decode embarrassingly parallel; the only shuffles are the 2-byte
    * band key and the per-image best-mate window — the corpus is never
    * crossed. */
  def imageNearDup(records: Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    bandedNearDup(records.filter(_.modality == "image")
      .mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
        (r.id, pHash(r.content))
      }))
      .toDF("id", "phash"))
  }

  /** 64-bit audio perceptual hash — the energy-delta signature (the
    * Shazam/AcoustID landmark trick reduced to one word): REAL WAV
    * decode -> 65 equal PCM windows -> exact integer energies -> one
    * bit per consecutive-window energy INCREASE. Amplitude scaling and
    * container re-encode preserve the bits (energies scale together,
    * so every comparison keeps its sign); unrelated clips disagree on
    * ~32 of 64. The near-dup currency [[audioFingerprints]] explicitly
    * is not: that one is exact-signal identity, this one survives the
    * gain-ripped copy. */
  def audioPHash(content: Array[Byte]): Long = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(content))
    val bytes = in.readAllBytes()
    val n = bytes.length / 2
    val e = new Array[Long](65)
    var i = 0
    while (i < n) {
      val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8))
        .toShort.toLong
      // Long math: i * 65 overflows Int past ~33M samples (~66 MB PCM),
      // which would index e[] negative on production-sized clips.
      val w = math.min((i.toLong * 65 / math.max(n, 1)).toInt, 64)
      e(w) += s * s
      i += 1
    }
    var bits = 0L; var b = 0
    while (b < 64) { if (e(b + 1) > e(b)) bits |= (1L << b); b += 1 }
    bits
  }

  /** Audio NEAR-dup over the audio corpus: [[audioPHash]] through the
    * same codec seam, then the shared banding/verify machinery — the
    * audio twin of [[imageNearDup]], closing the near-dup gap the
    * exact-fingerprint audioDedup documents (a gain-changed or
    * re-encoded copy splits every exact window hash but moves few of
    * the 64 delta-sign bits). */
  def audioNearDup(records: Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    bandedNearDup(records.filter(_.modality == "audio")
      .mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
        (r.id, audioPHash(r.content))
      }))
      .toDF("id", "phash"))
  }

  /** Shared 64-bit-hash near-dup machinery (image pHash, audio
    * energy-delta hash): 4x16-bit banding (pigeonhole recall at
    * Hamming <= 3), bit_count verify on candidates only, per-id
    * best-mate election. One definition so every modality's near-dup
    * operator has the identical recall contract. */
  private def bandedNearDup(ph0: DataFrame): DataFrame = {
    // one decode pass serves banding + both verify sides
    val ph = graft.queries.persistEager(ph0)
    val bands = ph.select(col("id"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("phash"), b * 16)
          .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band", "bv")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    val pairs = cand
      .join(ph.select(col("id").as("id1"), col("phash").as("p1")), "id1")
      .join(ph.select(col("id").as("id2"), col("phash").as("p2")), "id2")
      .withColumn("hamming", expr("bit_count(p1 ^ p2)").cast("long"))
      .filter(col("hamming") <= 3)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("hamming").asc, col("mate").asc)
    val best = pairs.select(col("id1").as("id"), col("id2").as("mate"),
        col("hamming"))
      .unionByName(pairs.select(col("id2").as("id"), col("id1").as("mate"),
        col("hamming")))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1).drop("rn")
    val out = ph.join(best, Seq("id"), "left")
      .select(col("id"), col("phash"), col("mate").as("near_dup_id"),
        col("hamming"), col("mate").isNotNull.as("is_near_dup"))
      .orderBy("id")
    graft.queries.materializeAndFree(out, ph)
  }

  /** Per-window audio fingerprints: REAL WAV decode -> 16-bit PCM ->
    * fixed 400-sample windows (25 ms @ 16 kHz) -> 60-bit md5-prefix hash
    * (the h60 family) of each window's DECODED samples. Hashing the
    * decoded signal — never container bytes — is the point: re-wrapping
    * the same audio in a fresh container still collides, the audio twin
    * of frameHash's decoded-pixel identity. Exact-signal hashing (not a
    * quantized energy sketch) mirrors that precedent deliberately: a
    * coarse 8-band energy signature false-positives on repetitive
    * same-period texts-as-audio (observed on the fixture), and the dedup
    * contract here is identity; a NEAR-dup audio pass would instead feed
    * a banded spectral sketch through the minhash/LSH machinery the text
    * family already proves. Only full windows are fingerprinted; a
    * trailing partial window is not a stable unit of identity. */
  def audioFingerprints(content: Array[Byte],
      windowSamples: Int = 400): IndexedSeq[(Int, Long)] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(content))
    val bytes = in.readAllBytes()
    val n = bytes.length / 2
    (0 until n / windowSamples).map { wi =>
      // hash the raw little-endian PCM window (same byte order every
      // decode path yields for 16-bit WAV data)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(java.util.Arrays.copyOfRange(bytes,
          wi * windowSamples * 2, (wi + 1) * windowSamples * 2))
        .map("%02x".format(_)).mkString
      (wi, java.lang.Long.parseLong(hex.substring(0, 15), 16))
    }
  }

  /** Audio fingerprint dedup across the corpus: decode every clip
    * (batched mapPartitions, the same codec seam as extractFeatures),
    * fingerprint each 25 ms window, then one fp-keyed window marks
    * shared segments and elects the canonical copy (first
    * (id, window_idx)) — q_frame_dedup's grouping shape on the audio
    * modality. Scale shape: decode is embarrassingly parallel; the only
    * shuffle is keyed on the 8-byte fingerprint (tiny groups, the
    * q_dedup_exact digest-window shape). */
  def audioDedup(records: Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    val fps = records.filter(_.modality == "audio")
      .mapPartitions(_.grouped(batchSize).flatMap(_.flatMap { r =>
        audioFingerprints(r.content).map { case (i, fp) => (r.id, i, fp) }
      }))
      .toDF("id", "window_idx", "fp")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val wRank = w.orderBy(col("id").asc, col("window_idx").asc)
    fps
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_canonical", row_number().over(wRank) === 1)
      .orderBy("id", "window_idx")
  }

  /** Frame-level dedup across a video corpus: decode every frame
    * (batched mapPartitions, the same codec seam as extractFeatures),
    * hash decoded pixels, then one frame_hash-keyed window marks
    * duplicates and elects the canonical copy (first (id, frame_idx)).
    * Scale shape: decode is embarrassingly parallel; the only shuffle
    * is keyed on the 8-byte frame hash — the exact-dedup shape of
    * q_dedup_exact lifted to the frame modality. */
  def frameDedup(records: Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    val hashes = records.filter(_.modality == "video")
      .mapPartitions(_.grouped(batchSize).flatMap(_.flatMap { r =>
        mpngFrames(r.content).zipWithIndex.map { case (f, i) =>
          (r.id, i, frameHash(f))
        }
      }))
      .toDF("id", "frame_idx", "frame_hash")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("frame_hash")
    val wRank = w.orderBy(col("id").asc, col("frame_idx").asc)
    hashes
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_canonical",
        row_number().over(wRank) === 1)
      .orderBy("id", "frame_idx")
  }

  /** Query-surface entry: end-to-end features joined back to metadata —
    * no oracle (binary plumbing is not SQL-expressible); MultiModalSpec
    * pins schema, determinism, batching, and feature math. */
  val q: Map[String, Q] = Map(
    "q_multimodal_features" -> ((s, d) => {
      extractFeatures(corpus(s, d)).toDF()
        .select(col("id"), col("modality"), col("dim"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x), 4).as("f_sum"))
        .orderBy("id")
    }),

    // Frame-level dedup over the video corpus (round 5). The fixture's
    // videos are all text-seeded distinct, so n_copies is 1 throughout
    // here; MultiModalSpec plants shared frames through the SAME
    // distributed pipeline and pins that they (and only they) group.
    // No oracle (binary decode is not SQL-expressible).
    "q_frame_dedup" -> ((s, d) => frameDedup(corpus(s, d))),

    // Audio fingerprint dedup (round 7) — the one modality that had no
    // dedup operator (video has q_frame_dedup). The fixture's clips are
    // text-seeded distinct, so n_copies is 1 throughout here;
    // MultiModalSpec plants a shared 25 ms segment through the SAME
    // distributed pipeline and pins that it (and only it) groups.
    // No oracle (binary decode is not SQL-expressible).
    "q_audio_dedup" -> ((s, d) => audioDedup(corpus(s, d))),

    // Perceptual-hash image NEAR-dup (round 10) — the missing rung
    // between q_frame_dedup's exact pixel identity and nothing: catches
    // re-encodes, dithers, and small edits. The fixture's images are
    // text-seeded noise (expected pairwise Hamming ~32), so near-dup
    // hits here are rare-to-none; MultiModalSpec plants a perturbed
    // copy through the SAME distributed pipeline and pins that it (and
    // only it) pairs. No oracle (binary decode + DCT are not
    // SQL-expressible).
    "q_image_phash" -> ((s, d) => imageNearDup(corpus(s, d))),

    // Audio perceptual near-dup (round 10) — completes the modality
    // matrix: every binary modality now has BOTH an exact-identity
    // dedup (frame/audio fingerprints) and a perturbation-tolerant
    // near-dup (pHash / energy-delta hash). Fixture clips are seeded
    // noise; MultiModalSpec plants a gain-scaled copy through the SAME
    // distributed pipeline and pins that it (and only it) pairs while
    // the exact fingerprints split it. No oracle (binary decode).
    "q_audio_phash" -> ((s, d) => audioNearDup(corpus(s, d))),
  )
}
