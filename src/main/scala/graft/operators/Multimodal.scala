package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: media as
  * opaque `binary` columns with typed metadata, decoded/featurized
  * per partition.
  *
  * The decode step itself is a STUB — a deterministic fake (this
  * environment has no image/audio codecs) — but the Spark-side
  * contract is real: binary payload column + metadata struct in,
  * fixed-schema feature rows out, batch-at-a-time per partition, no
  * driver involvement. Swapping the fake for a JNI/codec call changes
  * one function.
  *
  * Scale notes: `mapPartitions` keeps the decode zero-copy per
  * partition and composes with `repartition(n)` to right-size decode
  * parallelism independently of upstream file splits; the payload
  * column should be pruned out of any plan that only needs metadata
  * (schema is split media/meta for exactly that reason).
  */
object Multimodal {

  /** Canonical media-row schema: id + opaque payload + typed meta. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("brightness", DoubleType, nullable = false)))

  /** Deterministic fake decode of one payload — stands in for a real
    * codec. Pure function of the bytes, so tests and re-runs are
    * stable.
    */
  def fakeDecode(id: Long, payload: Array[Byte]): Row = {
    val n = if (payload == null) 0 else payload.length
    var acc = 0L
    var i = 0
    while (i < n) { acc = (acc * 31 + (payload(i) & 0xff)) % 2147483647L; i += 1 }
    Row(id, (n % 640).toInt, ((n * 31) % 480).toInt, (n % 16).toInt,
      (acc % 1000).toDouble / 1000.0)
  }

  /** Batch decode: payload rows → feature rows, one pass per
    * partition. Only (media_id, payload) is selected, so the scan
    * prunes every other column before the decode stage.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.map(r => fakeDecode(r.getLong(0), r.getAs[Array[Byte]](1))))
    spark.createDataFrame(rows, featureSchema)
  }

  // ---------------------------------------------------------------
  // Real image codec (javax.imageio — in the JDK, no added deps).
  // The fake decode above stands in for codecs the sandbox lacks
  // (audio/video); images get the real thing: encode → bytes →
  // decode → pixel statistics, lossless end to end (PNG).
  // ---------------------------------------------------------------

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("r_mean", DoubleType, nullable = true),
    StructField("g_mean", DoubleType, nullable = true),
    StructField("b_mean", DoubleType, nullable = true)))

  /** Deterministic synthetic RGB image for `id`, PNG-encoded.
    * Dimensions and pixels are pure integer functions of (id, x, y),
    * so expected decode statistics are closed-form — an oracle can
    * recompute them without any codec. PNG is lossless: the decode
    * sees exactly these pixels.
    */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = (4 + id % 13).toInt
    val h = (4 + (id * 7) % 11).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 11 + y * 5) % 256).toInt
        val b = ((id * 23 + x * 3 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Encode one synthetic PNG per input id — the fixture-building
    * half of the image round-trip. Runs inside the partition iterator
    * like every other codec stage.
    */
  def encodeSyntheticPngs(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    // ids usually come from a corpus scan whose parquet compresses
    // ~100:1 → ONE partition by bytes, which would serialize the
    // CPU-bound pixel/codec work below; widening shuffles only the id
    // column (the fuzzyJoinBlocked AQE lesson: cost is CPU, not bytes)
    val rows = ids.select(col("media_id"))
      .repartition(spark.sessionState.conf.numShufflePartitions).rdd
      .mapPartitions(_.map(r => Row(r.getLong(0), syntheticPng(r.getLong(0)))))
    spark.createDataFrame(rows, schema)
  }

  /** REAL image decode: payload bytes → ImageIO → per-channel pixel
    * statistics. Same dataflow contract as [[decodeFeatures]] (select
    * only (id, payload), decode per partition, fixed feature schema
    * out), but the codec is the JDK's actual PNG/JPEG reader. A null
    * or undecodable payload yields null features — the operator is
    * total, it never throws on bad media.
    *
    * Channel means divide an exact integer pixel sum by an exact
    * pixel count, so results are bit-reproducible across engines.
    */
  def decodeImageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val img =
          if (p == null) null
          // NonFatal, not just IOException: ImageIO throws unchecked
          // CMMException / IllegalArgumentException / NegativeArraySize
          // on corrupt payloads, and the totality contract must hold.
          else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(id, null, null, null, null, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          var rSum = 0L; var gSum = 0L; var bSum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val px = img.getRGB(x, y)
              rSum += (px >> 16) & 0xff
              gSum += (px >> 8) & 0xff
              bSum += px & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          Row(id, w, h, rSum.toDouble / n, gSum.toDouble / n, bSum.toDouble / n)
        }
      })
    spark.createDataFrame(rows, imageFeatureSchema)
  }

  val imageHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("dhash", LongType, nullable = true)))

  /** Perceptual difference hash (dHash) from REAL decoded pixels: one
    * bit per horizontally-adjacent red-channel pair over the top-left
    * window (≤ 8×7 — 56 bits, sign-safe in a LongType), packed at
    * position y·8+x. Identical content → identical hash regardless of
    * container bytes, the property a perceptual-dedup pipeline keys
    * on (hamming near-dup then rides the simhash band machinery).
    * Same dataflow contract as [[decodeImageFeatures]]: decode in the
    * partition iterator, total on null/corrupt payloads.
    */
  def imageDHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val img =
          if (p == null) null
          else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(id, null, null, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          var hash = 0L
          var y = 0
          while (y < math.min(h, 7)) {
            var x = 0
            while (x < math.min(w, 9) - 1) {
              val r0 = (img.getRGB(x, y) >> 16) & 0xff
              val r1 = (img.getRGB(x + 1, y) >> 16) & 0xff
              if (r1 > r0) hash |= 1L << (y * 8 + x)
              x += 1
            }
            y += 1
          }
          Row(id, w, h, hash)
        }
      })
    spark.createDataFrame(rows, imageHashSchema)
  }

  // ---------------------------------------------------------------
  // Real audio codec (javax.sound.sampled — in the JDK, no added
  // deps). Second de-stubbed modality after images: encode → WAV
  // bytes → decode → sample statistics, lossless end to end (PCM).
  // ---------------------------------------------------------------

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_channels", IntegerType, nullable = true),
    StructField("n_samples", IntegerType, nullable = true),
    StructField("mean_amp", DoubleType, nullable = true),
    StructField("mean_square", DoubleType, nullable = true)))

  /** Deterministic synthetic mono 16-bit PCM WAV for `id`. Sample
    * count, rate, and every sample value are pure integer functions of
    * (id, i), so expected decode statistics are closed-form — the
    * oracle recomputes them without any codec. PCM is lossless: the
    * decode sees exactly these samples.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = (400 + id % 600).toInt
    val rate = (8000 + (id % 3) * 4000).toInt
    // canonical RIFF/WAVE container, written directly: the 44-byte
    // PCM header is a fixed public layout, and hand-rolling it is
    // ~2.5x cheaper than driving javax.sound's writer per clip
    // (measured 262 us/clip through AudioSystem.write vs ~35 us direct,
    // BASELINE.md "Round-12 addenda") — legitimate because the ENCODE half is
    // fixture-building; the DECODE half stays the real JDK codec,
    // which parses this container exactly as it parsed the
    // AudioSystem-written one (Queries14Spec pins the round-trip).
    val dataLen = n * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1) // PCM
    b.putShort(1) // mono
    b.putInt(rate)
    b.putInt(rate * 2) // byte rate
    b.putShort(2) // block align
    b.putShort(16) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      b.putShort(((id * 31 + i * 17) % 2001 - 1000).toShort)
      i += 1
    }
    b.array()
  }

  /** Encode one synthetic WAV per input id — the fixture-building half
    * of the audio round-trip, inside the partition iterator.
    */
  def encodeSyntheticWavs(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val rows = ids.select(col("media_id"))
      .repartition(spark.sessionState.conf.numShufflePartitions).rdd
      .mapPartitions(_.map(r => Row(r.getLong(0), syntheticWav(r.getLong(0)))))
    spark.createDataFrame(rows, schema)
  }

  /** REAL audio decode: WAV bytes → javax.sound → per-clip sample
    * statistics. Same dataflow contract as [[decodeImageFeatures]];
    * a null or undecodable payload yields null features (total
    * operator, never throws on bad media). Only 16-bit PCM is
    * featurized — other encodings return the parsed header fields
    * with null statistics rather than lying about sample values.
    *
    * `mean_amp`/`mean_square` divide exact integer sums by the exact
    * sample count, so results are bit-reproducible across engines.
    */
  def decodeAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val ais =
          if (p == null) null
          // NonFatal (covers UnsupportedAudioFileException, IOException
          // and the unchecked failures javax.sound throws on corrupt
          // headers) — the totality contract must hold.
          else try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(p))
          catch { case scala.util.control.NonFatal(_) => null }
        if (ais == null) Row(id, null, null, null, null, null)
        else try {
          val fmt = ais.getFormat
          val bytes = ais.readAllBytes()
          val ch = fmt.getChannels
          if (fmt.getSampleSizeInBits != 16 || fmt.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
            Row(id, fmt.getSampleRate.toInt, ch, null, null, null)
          else {
            val n = bytes.length / 2
            var sum = 0L; var sumSq = 0L
            var i = 0
            while (i < n) {
              // the first byte of a BE sample / second of an LE one is
              // the sign byte: .toInt sign-extends it, the other byte
              // is masked unsigned
              val s =
                if (fmt.isBigEndian)
                  (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
                else
                  (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
              sum += s; sumSq += s.toLong * s
              i += 1
            }
            Row(id, fmt.getSampleRate.toInt, ch, n,
              if (n == 0) null else sum.toDouble / n,
              if (n == 0) null else sumSq.toDouble / n)
          }
        } catch { // truncated PCM stream mid-read: stay total
          case scala.util.control.NonFatal(_) => Row(id, null, null, null, null, null)
        }
      })
    spark.createDataFrame(rows, audioFeatureSchema)
  }

  // ---------------------------------------------------------------
  // Video: a length-prefixed frame container (real binary parse) of
  // PNG frames (real ImageIO decode per frame). The JDK has no
  // h264/vp9 codec, so the CONTAINER is ours — frame-sequence files
  // are a standard training-data shape — while the per-frame codec
  // work is the real PNG reader. All three modalities now decode for
  // real.
  // ---------------------------------------------------------------

  val videoFrameFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("r_mean", DoubleType, nullable = true),
    StructField("g_mean", DoubleType, nullable = true),
    StructField("b_mean", DoubleType, nullable = true)))

  /** Deterministic synthetic "video" for `id`: 2 + id%4 PNG frames
    * (frame f is [[syntheticPng]] of `id * 100 + f`, so every frame's
    * pixels stay closed-form) in a length-prefixed container:
    * int32 frame count, int32 byte-length per frame, then the PNG
    * blobs back to back (big-endian).
    */
  def syntheticVideo(id: Long): Array[Byte] = {
    val n = (2 + id % 4).toInt
    val frames = (0 until n).map(f => syntheticPng(id * 100 + f))
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(n)
    frames.foreach(f => dos.writeInt(f.length))
    frames.foreach(out.write)
    out.toByteArray
  }

  def encodeSyntheticVideos(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val rows = ids.select(col("media_id"))
      .repartition(spark.sessionState.conf.numShufflePartitions).rdd
      .mapPartitions(_.map(r => Row(r.getLong(0), syntheticVideo(r.getLong(0)))))
    spark.createDataFrame(rows, schema)
  }

  /** REAL video decode: container parse → per-frame ImageIO decode →
    * per-frame channel statistics, one media row fanning out to
    * n_frames feature rows inside the partition iterator (the
    * [[sampleFrames]] dataflow with a real codec). Totality: a null
    * payload or unparseable container yields zero rows; a frame whose
    * PNG fails to decode yields its row with null statistics.
    */
  def decodeVideoFrames(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.flatMap { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val frames: Seq[(Int, Array[Byte])] =
          if (p == null) Nil
          else try {
            val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(p))
            val n = in.readInt()
            if (n < 0 || n > (1 << 20)) Nil
            else {
              val lens = (0 until n).map(_ => in.readInt())
              if (lens.exists(l => l < 0 || l > p.length)) Nil
              else lens.zipWithIndex.map { case (len, i) =>
                val buf = new Array[Byte](len)
                in.readFully(buf)
                (i, buf)
              }
            }
          } catch { case scala.util.control.NonFatal(_) => Nil }
        frames.iterator.map { case (i, png) =>
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) Row(id, i, null, null, null, null, null)
          else {
            val w = img.getWidth; val h = img.getHeight
            var rS = 0L; var gS = 0L; var bS = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val px = img.getRGB(x, y)
                rS += (px >> 16) & 0xff; gS += (px >> 8) & 0xff; bS += px & 0xff
                x += 1
              }
              y += 1
            }
            val m = w.toLong * h
            Row(id, i, w, h, rS.toDouble / m, gS.toDouble / m, bS.toDouble / m)
          }
        }
      })
    spark.createDataFrame(rows, videoFrameFeatureSchema)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("fingerprint", IntegerType, nullable = false)))

  /** Frame sampling: one media row → 0..N frame rows (the video
    * training-data shape: sample evenly-spaced frames per clip). The
    * 1→N generation runs inside the partition iterator — no
    * intermediate collection, no driver round-trip. Frame count and
    * offsets come from the fake codec (n_frames = bytes % 16, evenly
    * spaced); `fingerprint` is the sampled byte, standing in for a
    * per-frame embedding.
    */
  def sampleFrames(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.flatMap { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val n = if (p == null) 0 else p.length
        val nFrames = n % 16
        (0 until nFrames).iterator.map { i =>
          val off = i * (n / nFrames)
          Row(id, i, off, p(off) & 0xff)
        }
      })
    spark.createDataFrame(rows, frameSchema)
  }

  val chunkSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** Fixed-window chunking: one media row → ceil(bytes/chunkBytes)
    * chunk rows with (idx, offset, size) metadata and the sliced
    * payload — the audio training-data shape (fixed-duration windows
    * per clip, each chunk featurized independently downstream). Like
    * [[sampleFrames]], the 1→N generation runs inside the partition
    * iterator; a null or empty payload yields no chunks. Chunk
    * metadata derives only from the byte length, so the accounting is
    * fully oracle-checkable without replaying codec bytes.
    */
  def chunkPayloads(media: DataFrame, chunkBytes: Int): DataFrame = {
    require(chunkBytes > 0, "chunkBytes must be positive")
    val spark = media.sparkSession
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.flatMap { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val n = if (p == null) 0 else p.length
        val nChunks = (n + chunkBytes - 1) / chunkBytes
        (0 until nChunks).iterator.map { i =>
          val off = i * chunkBytes
          val len = math.min(chunkBytes, n - off)
          Row(id, i, off, len, java.util.Arrays.copyOfRange(p, off, off + len))
        }
      })
    spark.createDataFrame(rows, chunkSchema)
  }

  /** Resize/transcode plumbing: payload → payload, batch-at-a-time per
    * partition (stub: truncate to `targetBytes`; a real resize swaps
    * the byte transform, the dataflow shape is identical). Returns
    * (media_id, payload, orig_bytes, resized_bytes) — metadata updated
    * alongside the transformed binary, never diverging from it.
    */
  def resizePayloads(media: DataFrame, targetBytes: Int): DataFrame = {
    require(targetBytes >= 0, "targetBytes must be non-negative")
    val spark = media.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("orig_bytes", IntegerType, nullable = false),
      StructField("resized_bytes", IntegerType, nullable = false)))
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val n = if (p == null) 0 else p.length
        val out = if (p == null) null else java.util.Arrays.copyOf(p, math.min(n, targetBytes))
        Row(id, out, n, if (out == null) 0 else out.length)
      })
    spark.createDataFrame(rows, schema)
  }
}
