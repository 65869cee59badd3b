package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column convention (SURVEY.md §2.8): media travel as opaque
  * `binary` payloads inside a typed struct with metadata — the schema,
  * partitioning, and batch shape are real Spark; only the codec itself is
  * stubbed (no image/audio libraries in this environment).
  *
  * Layout: `media: struct<bytes binary, mime string, width int, height int,
  * duration_ms bigint>`. At 100 TB the payload column dominates: keep media
  * tables bucketed by id, project metadata-only when possible (Parquet column
  * pruning skips the blob pages entirely), and decode per-partition in
  * batches.
  */
object Multimodal {

  /** Wrap a string column as a fake media payload (deterministic: utf-8
    * bytes; metadata derived from content so tests are reproducible). */
  def mediaFromText(text: org.apache.spark.sql.Column, mime: String): org.apache.spark.sql.Column =
    struct(
      encode(text, "UTF-8").as("bytes"),
      lit(mime).as("mime"),
      (length(text) % 1920).cast(IntegerType).as("width"),
      (length(text) % 1080).cast(IntegerType).as("height"),
      (length(text) * 40L).cast(LongType).as("duration_ms"))

  /** Metadata-only projection — never touches the blob pages. */
  def metadata(df: DataFrame, mediaCol: String): DataFrame =
    df.select(col("*"), col(s"$mediaCol.mime"), col(s"$mediaCol.width"),
      col(s"$mediaCol.height"), col(s"$mediaCol.duration_ms")).drop(mediaCol)

  final case class BmpMedia(doc_id: Long, bytes: Array[Byte])
  final case class BmpStats(doc_id: Long, width: Long, height: Long, n_bytes: Long,
                            sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** Pixel formula for the deterministic test images: channel c ∈ {0=R,1=G,
    * 2=B} of pixel (x, y) in doc `id`'s image. Pure integer arithmetic so
    * the DuckDB oracle can regenerate the ground-truth statistics without
    * parsing BMP. */
  private[graft] def channel(id: Long, x: Int, y: Int, c: Int): Int =
    ((id + x * 7L + y * 13L + c * 29L) % 256L).toInt

  private[graft] def bmpDims(id: Long): (Int, Int) =
    ((8 + id % 9).toInt, (8 + id % 7).toInt)

  /** Encode one REAL 24-bit uncompressed BMP (BITMAPINFOHEADER): 14-byte
    * file header, 40-byte info header, pixel rows stored BOTTOM-UP in BGR
    * order with each row padded to a 4-byte boundary — the actual Windows
    * bitmap wire format, byte for byte. `bright` adds a clamped brightness
    * shift (min(c + bright, 255)) — the deterministic near-duplicate
    * perturbation for perceptual-hash dedup (phash_neardup): a global
    * brightness shift leaves an average-hash bit unchanged except where the
    * 255 clamp compresses bright pixels, so the variant lands a small
    * nonzero hamming from its base. */
  private[graft] def encodeBmp(id: Long, w: Int, h: Int, bright: Int = 0): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val dataSize = stride * h
    val size = 54 + dataSize
    val buf = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)                       // file header
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24) // info header
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var r = 0
    while (r < h) {
      val y = h - 1 - r // bottom-up: first stored row is the image's LAST
      var x = 0
      while (x < w) {
        buf.put(math.min(channel(id, x, y, 2) + bright, 255).toByte) // B
        buf.put(math.min(channel(id, x, y, 1) + bright, 255).toByte) // G
        buf.put(math.min(channel(id, x, y, 0) + bright, 255).toByte) // R
        x += 1
      }
      var p = w * 3
      while (p < stride) { buf.put(0.toByte); p += 1 } // row padding
      r += 1
    }
    buf.array()
  }

  /** Render one deterministic BMP per input doc_id — the ingest-side stand-in
    * for reading real image files (binaryFile source), kept pure-JVM and
    * reproducible so the decode below has an exact oracle. */
  def renderBmp(spark: SparkSession, ids: DataFrame): Dataset[BmpMedia] = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      val (w, h) = bmpDims(id)
      BmpMedia(id, encodeBmp(id, w, h))
    })
  }

  /** Render brightness-variant BMPs: input rows are (img_id, base, bright) —
    * the image carries `img_id` but its pixels come from `base`'s formula
    * shifted by `bright`. This is how phash_neardup plants image near-dups
    * (bright > 0) and exact dups (bright = 0, new id) of a base image. */
  def renderBmpVariants(spark: SparkSession, imgs: DataFrame): Dataset[BmpMedia] = {
    import spark.implicits._
    imgs.select(col("img_id").cast(LongType), col("base").cast(LongType),
        col("bright").cast(IntegerType)).as[(Long, Long, Int)]
      .mapPartitions(_.map { case (imgId, base, bright) =>
        val (w, h) = bmpDims(base)
        BmpMedia(imgId, encodeBmp(base, w, h, bright))
      })
  }

  final case class BmpHash(img_id: Long, phash: Long)

  /** 64-bit average hash (aHash) of a decoded BMP: an 8×8 grid of gray
    * samples (x = i·w/8, y = j·h/8; gray = R+G+B), bit k = j·8+i set iff
    * 64·gray_k ≥ Σgray (integer-exact mean threshold — no doubles, so the
    * DuckDB oracle reproduces it bit for bit from the pixel formula). The
    * perceptual property: any global brightness shift without clamping
    * leaves every bit unchanged (both sides of the comparison shift
    * equally), so near-identical images land hamming ≈ 0. One narrow
    * mapPartitions — decode and hash never shuffle; only the 16-byte
    * (id, hash) rows do. */
  def aHashBmp(spark: SparkSession, media: Dataset[BmpMedia]): DataFrame = {
    import spark.implicits._
    media.mapPartitions(_.map(m => BmpHash(m.doc_id, aHash64(m.bytes)))).toDF()
  }

  private[graft] def aHash64(bytes: Array[Byte]): Long = {
    require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      "not a BMP payload")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val off = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    require(buf.getShort(28) == 24, "unsupported bit depth")
    val stride = (w * 3 + 3) / 4 * 4
    val gray = new Array[Long](64)
    var sum = 0L
    var k = 0
    while (k < 64) {
      val x = (k % 8) * w / 8
      val y = (k / 8) * h / 8
      val base = off + (h - 1 - y) * stride + x * 3 // bottom-up row lookup
      val g = (bytes(base) & 0xff) + (bytes(base + 1) & 0xff) + (bytes(base + 2) & 0xff)
      gray(k) = g.toLong
      sum += g
      k += 1
    }
    var hash = 0L
    k = 0
    while (k < 64) {
      if (gray(k) * 64L >= sum) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** REAL pure-JVM BMP decoder (replaces the round-3 byte-histogram stub):
    * parses the magic, pixel-data offset, dimensions and bit depth from the
    * headers, walks the bottom-up padded rows, and reduces each image to
    * exact integer pixel statistics — per-channel sums plus an (x, y)-
    * weighted checksum that pins the ROW ORIENTATION and padding handling
    * (a decoder that reads rows top-down or mis-strides produces the right
    * sums but the wrong checksum). Spark shape: typed Dataset in, one
    * mapPartitions batch loop, narrow (no join, no shuffle) — the decode
    * slot a real image codec drops into at 100 TB. */
  def decodeBmp(spark: SparkSession, media: Dataset[BmpMedia]): Dataset[BmpStats] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bytes = m.bytes
      require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
        s"doc ${m.doc_id}: not a BMP payload")
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val off = buf.getInt(10)
      val w = buf.getInt(18)
      val h = buf.getInt(22)
      val bpp = buf.getShort(28)
      require(bpp == 24, s"doc ${m.doc_id}: unsupported bit depth $bpp")
      val stride = (w * 3 + 3) / 4 * 4
      var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
      var r = 0
      while (r < h) {
        val y = h - 1 - r
        val base = off + r * stride
        var x = 0
        while (x < w) {
          val blue = bytes(base + x * 3) & 0xff
          val green = bytes(base + x * 3 + 1) & 0xff
          val red = bytes(base + x * 3 + 2) & 0xff
          sr += red; sg += green; sb += blue
          ck += (x + 1L) * (y + 1L) * (red + 2L * green + 3L * blue)
          x += 1
        }
        r += 1
      }
      BmpStats(m.doc_id, w.toLong, h.toLong, bytes.length.toLong, sr, sg, sb, ck)
    })
  }

  final case class WavMedia(doc_id: Long, bytes: Array[Byte])
  final case class WavChannelStats(doc_id: Long, channel: Long, n_samples: Long,
                                   sample_rate: Long, peak_abs: Long,
                                   sum_sq: Long, checksum: Long)

  /** Sample formula for the deterministic test audio: signed 16-bit PCM
    * sample `i` of channel `ch` in doc `id`'s clip. Pure integer arithmetic
    * (inputs are non-negative, so `%` is exact in both engines) — the
    * DuckDB oracle regenerates the ground-truth statistics without parsing
    * RIFF. */
  private[graft] def wavSample(id: Long, ch: Int, i: Int): Int =
    ((id * 31L + ch * 1009L + i * 7919L) % 65536L).toInt - 32768

  private[graft] def wavChannels(id: Long): Int = (1 + id % 2).toInt
  private[graft] def wavFrames(id: Long): Int = (400 + (id % 7) * 50).toInt
  private[graft] val WavRate = 8000

  /** Encode one REAL RIFF/WAVE file (canonical 44-byte header + interleaved
    * signed 16-bit little-endian PCM frames) — the actual wire format
    * javax.sound reads, byte for byte. */
  private[graft] def encodeWav(id: Long): Array[Byte] = {
    val ch = wavChannels(id)
    val n = wavFrames(id)
    val dataSize = n * ch * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(ch.toShort)
      .putInt(WavRate)
      .putInt(WavRate * ch * 2)          // byte rate
      .putShort((ch * 2).toShort)        // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < ch) { buf.putShort(wavSample(id, c, i).toShort); c += 1 }
      i += 1
    }
    buf.array()
  }

  /** Render one deterministic WAV per doc_id — the ingest-side stand-in for
    * reading real audio files, the renderBmp sibling. */
  def renderWav(spark: SparkSession, ids: DataFrame): Dataset[WavMedia] = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions(_.map(id =>
      WavMedia(id, encodeWav(id))))
  }

  /** REAL audio decode through javax.sound (JDK java.desktop — no new
    * deps): AudioSystem parses the RIFF/fmt headers into an AudioFormat
    * (channels, rate, bit depth, endianness — all VERIFIED, not assumed),
    * streams the PCM frames, and each channel de-interleaves to exact
    * integer statistics — peak |s|, energy Σs², and a frame-order-weighted
    * checksum that pins interleaving and sample order (a decoder that
    * swaps channels or drops a frame produces the right peak but the wrong
    * checksum). Spark shape: typed Dataset in, one narrow mapPartitions
    * batch loop (decode never shuffles; only the ~56-byte stat rows do) —
    * the decode slot a real audio codec drops into at 100 TB. */
  def decodeWav(spark: SparkSession, media: Dataset[WavMedia]): Dataset[WavChannelStats] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.bytes))
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"doc ${m.doc_id}: unsupported audio format $fmt")
      val ch = fmt.getChannels
      val rate = math.round(fmt.getSampleRate).toLong
      val data = ais.readAllBytes()
      ais.close()
      val nFrames = data.length / (2 * ch)
      val peak = new Array[Long](ch)
      val sumSq = new Array[Long](ch)
      val ck = new Array[Long](ch)
      var i = 0
      while (i < nFrames) {
        var c = 0
        while (c < ch) {
          val off = (i * ch + c) * 2
          val s = ((data(off) & 0xff) | (data(off + 1) << 8)).toShort.toLong
          if (math.abs(s) > peak(c)) peak(c) = math.abs(s)
          sumSq(c) += s * s
          ck(c) += (i + 1L) * s
          c += 1
        }
        i += 1
      }
      (0 until ch).map(c =>
        WavChannelStats(m.doc_id, c.toLong, nFrames.toLong, rate,
          peak(c), sumSq(c), ck(c)))
    })
  }

  final case class WavWindow(doc_id: Long, channel: Long, win: Long, energy: Long)

  /** Per-window PCM energy through the SAME javax.sound parse as
    * [[decodeWav]]: frames bucket into fixed `windowSamples`-frame windows
    * (the trailing partial window is kept — deterministic in both engines
    * as i DIV windowSamples) and each window folds Σs² per channel. This is
    * the voice-activity-detection primitive: the downstream card gates
    * windows on an energy threshold. One narrow mapPartitions; only the
    * per-window rows (corpus × frames/windowSamples) shuffle. */
  def wavWindowEnergy(spark: SparkSession, media: Dataset[WavMedia],
                      windowSamples: Int): Dataset[WavWindow] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.bytes))
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"doc ${m.doc_id}: unsupported audio format $fmt")
      val ch = fmt.getChannels
      val data = ais.readAllBytes()
      ais.close()
      val nFrames = data.length / (2 * ch)
      val nWins = (nFrames + windowSamples - 1) / windowSamples
      val energy = Array.ofDim[Long](ch, nWins)
      var i = 0
      while (i < nFrames) {
        val w = i / windowSamples
        var c = 0
        while (c < ch) {
          val off = (i * ch + c) * 2
          val s = ((data(off) & 0xff) | (data(off + 1) << 8)).toShort.toLong
          energy(c)(w) += s * s
          c += 1
        }
        i += 1
      }
      for (c <- 0 until ch; w <- 0 until nWins)
        yield WavWindow(m.doc_id, c.toLong, w.toLong, energy(c)(w))
    })
  }

  final case class WavHadamard(doc_id: Long, channel: Long, seq_j: Long, coef: Long)

  /** First `nCoef` natural-order Walsh–Hadamard (sequency-domain)
    * coefficients per channel over the first `window` PCM frames, through
    * the SAME javax.sound parse as [[decodeWav]]:
    * coef_j = Σ_n (−1)^popcount(j AND n) · s_n — the integer-EXACT
    * spectral transform. A DFT bin would need cos()/sin(), and Java's
    * Math.cos intrinsic disagrees with libm in 4 of the 1600 angles this
    * card would evaluate (measured, not assumed) — Walsh functions are
    * ±1 masks from a popcount, so both engines fold identical BIGINTs.
    * One narrow mapPartitions; only the (doc, channel, j) rows shuffle. */
  def wavHadamard(spark: SparkSession, media: Dataset[WavMedia],
                  nCoef: Int, window: Int): Dataset[WavHadamard] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.bytes))
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"doc ${m.doc_id}: unsupported audio format $fmt")
      val ch = fmt.getChannels
      val data = ais.readAllBytes()
      ais.close()
      val nFrames = data.length / (2 * ch)
      val n = math.min(nFrames, window)
      val coef = Array.ofDim[Long](ch, nCoef)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < ch) {
          val off = (i * ch + c) * 2
          val s = ((data(off) & 0xff) | (data(off + 1) << 8)).toShort.toLong
          var j = 0
          while (j < nCoef) {
            coef(c)(j) += (if (java.lang.Integer.bitCount(j & i) % 2 == 0) s else -s)
            j += 1
          }
          c += 1
        }
        i += 1
      }
      for (c <- 0 until ch; j <- 0 until nCoef)
        yield WavHadamard(m.doc_id, c.toLong, j.toLong, coef(c)(j))
    })
  }

  /** STUB resize: downsample the payload to a byte budget by stride
    * sampling — keep every k-th byte, k = ⌈len/budget⌉ — standing in for
    * image down-scaling; metadata scales with the same factor so the
    * struct stays self-consistent. Deterministic and content-derived like
    * the other stubs; the payload is utf-8 of ASCII testdata text, so the
    * byte stride is also a character stride and the DuckDB twin can slice
    * characters (same ASCII contract as sampleFrames). */
  def resize(media: org.apache.spark.sql.Column, budget: Int): org.apache.spark.sql.Column = {
    val raw = decode(media.getField("bytes"), "UTF-8")
    val len = length(raw)
    // clamp to >=1: an empty payload has ceil(0/budget)=0, which must not
    // reach the stride/metadata divisions (no-op for any non-empty payload)
    val k = greatest(ceil(len / lit(budget.toDouble)), lit(1)).cast(IntegerType)
    // let-bind the decoded payload as a lambda VARIABLE: interpreted HOFs
    // re-evaluate non-variable subtrees per invocation, so referencing the
    // decode directly inside the sampling lambda would decode the full
    // payload once per sampled byte (~budget× per row). The 1-element
    // transform wrapper (TextFns.shingles idiom) decodes once per row; the
    // stride bounds are arguments to the inner transform, also once per row.
    val strided = element_at(transform(array(raw), txt => {
      val l = length(txt)
      val kk = greatest(ceil(l / lit(budget.toDouble)), lit(1)).cast(IntegerType)
      when(l > 0,
        array_join(transform(sequence(lit(1), l, kk), i => txt.substr(i, lit(1))), ""))
        .otherwise(lit(""))
    }), 1)
    struct(
      encode(strided, "UTF-8").as("bytes"),
      media.getField("mime").as("mime"),
      ceil(media.getField("width") / k).cast(IntegerType).as("width"),
      ceil(media.getField("height") / k).cast(IntegerType).as("height"),
      media.getField("duration_ms").as("duration_ms"))
  }

  /** STUB frame sampler: slice the payload into `n` contiguous frames —
    * stands in for video frame extraction; produces one row per frame, the
    * real explode shape for downstream per-frame featurization. Boundaries
    * are cumulative floor(i·len/n) offsets, so frames tile the payload with
    * no gaps (independent per-frame truncation would silently skip bytes). */
  def sampleFrames(df: DataFrame, mediaCol: String, n: Int): DataFrame = {
    val len = length(col(s"$mediaCol.bytes"))
    def off(i: org.apache.spark.sql.Column) = (i * len / n).cast(IntegerType)
    df.select(col("doc_id"), posexplode(transform(sequence(lit(0), lit(n - 1)),
        i => col(s"$mediaCol.bytes").substr(off(i) + 1, off(i + 1) - off(i)))))
      .toDF("doc_id", "frame_idx", "frame_bytes")
  }
}
