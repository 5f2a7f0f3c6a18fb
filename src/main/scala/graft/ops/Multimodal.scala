package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media object: opaque bytes + typed metadata. */
case class MediaRow(doc_id: Long, kind: String, n_bytes: Long, media: Array[Byte])

/** Extracted features for one media object. */
case class MediaFeatures(
    doc_id: Long,
    kind: String,
    n_bytes: Long,
    media_md5: String,
    features: Array[Float])

/** Per-image statistics decoded from real BMP bytes. */
case class BmpStats(doc_id: Long, width: Int, height: Int, sum_r: Long, sum_g: Long, sum_b: Long)

/** Per-clip statistics decoded from real WAV bytes. */
case class WavStats(doc_id: Long, n_samples: Long, sum_sq: Long, peak: Long)

/** Per-sampled-frame statistics from a frame container. */
case class FrameStats(doc_id: Long, frame_id: Int, sum_r: Long, sum_g: Long, sum_b: Long)

/** 8x8 average-hash of an image as two positive 32-bit halves. */
case class AHash(doc_id: Long, hash_hi: Long, hash_lo: Long)

/** Per-sampled-frame perceptual hash of a clip. */
case class FrameAHash(doc_id: Long, frame_id: Int, hash_hi: Long, hash_lo: Long)

case class WavZc(doc_id: Long, n_samples: Long, zero_crossings: Long)

case class WavFp(doc_id: Long, hash_hi: Long, hash_lo: Long)

/** Per-clip audio-quality counters (exact integers over decoded samples). */
case class WavQuality(doc_id: Long, n_samples: Long, n_clipped: Long, n_silent: Long, sum_s: Long)

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise per partition.
  *
  * Every DataFrame face consumes a MEDIA TABLE per the [[asMedia]] contract
  * (`doc_id` long, `media` binary, plus `kind`/`n_bytes` metadata) — built
  * from `spark.read.format("binaryFile")`, a parquet landing zone, or (in
  * tests and the query registry) [[graft.etl.MediaSynth.mediaTable]]. The
  * operators themselves never synthesize bytes.
  *
  * The decode step is REAL for two pure-JVM formats — uncompressed 24bpp BMP
  * ([[decodeBmp]]: header-field reads, stride math, bottom-up row walk) and
  * PCM16 mono WAV ([[decodeWav]]: RIFF chunk scan, `fmt ` validation,
  * little-endian sample extraction). Formats needing native codecs
  * (JPEG/MP3/video) still go through [[decodeStub]]; swapping it for a
  * JNI/ONNX decoder touches nothing else: the (id, kind, n_bytes, media)
  * schema, the partition-parallel batch loop (`mapPartitions` over a typed
  * Dataset — the Scala analogue of `mapInPandas`), and the fixed-width
  * feature-vector output shape are the same seam for every format.
  */
object Multimodal {

  /** Parse an uncompressed 24bpp BMP and accumulate per-channel pixel sums.
    * Reads the actual header fields (pixel-array offset, dimensions, bpp,
    * compression) and walks the padded bottom-up rows — channel sums are
    * order-independent, so stats match the generator's (x, y) enumeration.
    */
  def decodeBmp(id: Long, bytes: Array[Byte]): BmpStats = {
    require(
      bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      s"doc $id: not a BMP")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixelOff = buf.getInt(10)
    val width = buf.getInt(18)
    val height = buf.getInt(22)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    require(
      bpp == 24 && compression == 0 && width > 0 && height > 0,
      s"doc $id: unsupported BMP (bpp=$bpp comp=$compression ${width}x$height)")
    val stride = ((3 * width + 3) / 4) * 4
    require(bytes.length >= pixelOff + stride * height, s"doc $id: truncated BMP")
    var sr = 0L; var sg = 0L; var sb = 0L
    var row = 0
    while (row < height) {
      val base = pixelOff + row * stride
      var x = 0
      while (x < width) {
        val o = base + 3 * x
        sb += bytes(o) & 0xff // disk order is BGR
        sg += bytes(o + 1) & 0xff
        sr += bytes(o + 2) & 0xff
        x += 1
      }
      row += 1
    }
    BmpStats(id, width, height, sr, sg, sb)
  }

  /** Nearest-neighbor resize of a real BMP to `tw` x `th`, returning the
    * resized image's channel sums. Unlike the order-independent stats of
    * [[decodeBmp]], resampling needs true pixel addressing: source pixel
    * (sx, sy) of image coordinates lives at disk offset
    * `pixelOff + (height-1-sy)*stride + 3*sx` (BMP rows are bottom-up).
    * Integer source indices `sx = x*width div tw` keep the kernel exact
    * and engine-portable (the oracle mirrors the same arithmetic over the
    * generator formula).
    */
  def resizeBmpNearest(id: Long, bytes: Array[Byte], tw: Int, th: Int): BmpStats = {
    require(
      bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      s"doc $id: not a BMP")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixelOff = buf.getInt(10)
    val width = buf.getInt(18)
    val height = buf.getInt(22)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    require(
      bpp == 24 && compression == 0 && width > 0 && height > 0,
      s"doc $id: unsupported BMP (bpp=$bpp comp=$compression ${width}x$height)")
    val stride = ((3 * width + 3) / 4) * 4
    require(bytes.length >= pixelOff + stride * height, s"doc $id: truncated BMP")
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < th) {
      val sy = y * height / th
      val base = pixelOff + (height - 1 - sy) * stride
      var x = 0
      while (x < tw) {
        val o = base + 3 * (x * width / tw)
        sb += bytes(o) & 0xff
        sg += bytes(o + 1) & 0xff
        sr += bytes(o + 2) & 0xff
        x += 1
      }
      y += 1
    }
    BmpStats(id, tw, th, sr, sg, sb)
  }

  /** Shared RIFF/WAVE chunk walk for every PCM16-mono parser: validates
    * the container, the `fmt ` chunk (present before data, >= 16 bytes,
    * PCM16 mono), skips unknown chunks (LIST, INFO, ...) with word
    * alignment, and invokes `onData(buf, dataOffset, nSamples)` on the
    * data chunk. Every WAV hardening lands HERE once — not per operator.
    */
  private def parsePcm16[T](id: Long, bytes: Array[Byte])(
      onData: (java.nio.ByteBuffer, Int, Int) => T): T = {
    require(
      bytes.length >= 12 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "WAVE",
      s"doc $id: not a WAV")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var fmtOk = false
    var out: Option[T] = None
    while (off + 8 <= bytes.length) {
      val chunkId = new String(bytes, off, 4, "US-ASCII")
      val size = buf.getInt(off + 4)
      require(
        size >= 0 && off + 8 + size <= bytes.length,
        s"doc $id: bad $chunkId chunk size $size at offset $off")
      chunkId match {
        case "fmt " =>
          require(size >= 16, s"doc $id: fmt chunk too small ($size bytes)")
          val audioFormat = buf.getShort(off + 8)
          val channels = buf.getShort(off + 10)
          val bits = buf.getShort(off + 22)
          require(
            audioFormat == 1 && channels == 1 && bits == 16,
            s"doc $id: unsupported WAV (fmt=$audioFormat ch=$channels bits=$bits)")
          fmtOk = true
        case "data" =>
          require(fmtOk, s"doc $id: data chunk before fmt")
          out = Some(onData(buf, off + 8, size / 2))
        case _ => // skip unknown chunks (LIST, INFO, ...)
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(out.isDefined, s"doc $id: no data chunk")
    out.get
  }

  /** Parse a PCM16 mono WAV by scanning RIFF chunks (not fixed offsets —
    * real files carry LIST/INFO chunks before `data`), validating the
    * `fmt ` chunk, and folding sum-of-squares and peak over the samples.
    */
  def decodeWav(id: Long, bytes: Array[Byte]): WavStats =
    parsePcm16(id, bytes) { (buf, dataOff, n) =>
      var sumSq = 0L; var peak = 0L
      var i = 0
      while (i < n) {
        val s = buf.getShort(dataOff + 2 * i).toLong
        sumSq += s * s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      WavStats(id, n.toLong, sumSq, peak)
    }

  /** Zero-crossing count of a PCM16 mono WAV — the classic cheap
    * voiced/unvoiced + noisiness signal (integer-exact, unlike spectral
    * features, so it oracle-hashes). Same RIFF walk as [[decodeWav]];
    * counts adjacent sample pairs with opposite signs.
    */
  def wavZeroCrossings(id: Long, bytes: Array[Byte]): WavZc =
    parsePcm16(id, bytes) { (buf, dataOff, n) =>
      var zc = 0L
      var i = 1
      while (i < n) {
        val a = buf.getShort(dataOff + 2 * (i - 1)).toInt
        val b = buf.getShort(dataOff + 2 * i).toInt
        if (a * b < 0) zc += 1
        i += 1
      }
      WavZc(id, n.toLong, zc)
    }

  /** [[wavZeroCrossings]] over a media table, partition-parallel. */
  def wavZc(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions(rows => rows.map { case (id, bytes) => wavZeroCrossings(id, bytes) })
      .toDF()
  }

  /** 64-bit audio fingerprint — the aHash idea applied to a waveform: the
    * sample stream splits into 64 equal-ish windows, and window `w`'s bit
    * is set when its |amplitude| sum exceeds a proportional share of the
    * whole clip's (`64·windowSum > total`, the same integer mean-threshold
    * rule as [[aHashBmp]]'s cells). Re-encoded, trimmed-silence, or
    * re-sampled copies keep most bits, so clip-level near-dup is a
    * Hamming-banded self-join over these — [[graft.ops.Dedup.aHashPairs]]
    * consumes the output unchanged (same `(doc_id, hash_hi, hash_lo)`
    * shape as the image hashes).
    *
    * Clips shorter than 64 samples cannot fill 64 windows; they emit the
    * ALL-ZERO fingerprint instead of failing the whole partition-parallel
    * scan (one degenerate-but-valid WAV must not kill a corpus job — the
    * same skip-don't-throw tolerance the RIFF walk applies to unknown
    * chunks). Zero-fingerprint rows pile into one band bucket downstream,
    * which [[graft.ops.Dedup.aHashPairs]]' hot-bucket cap already drops —
    * so short clips never flood the pair join either.
    */
  def wavFingerprint(id: Long, bytes: Array[Byte]): WavFp =
    parsePcm16(id, bytes) { (buf, dataOff, n) =>
      if (n < 64) WavFp(id, 0L, 0L)
      else {
        val amp = new Array[Long](n)
        var total = 0L
        var i = 0
        while (i < n) {
          val a = math.abs(buf.getShort(dataOff + 2 * i).toLong)
          amp(i) = a; total += a; i += 1
        }
        var hi = 0L; var lo = 0L
        var w = 0
        while (w < 64) {
          // Long products: w*n overflows Int past ~34M samples (a
          // quarter-hour 44.1 kHz clip), corrupting window boundaries
          val start = (w.toLong * n / 64).toInt
          val end = ((w + 1).toLong * n / 64).toInt
          var ws = 0L
          var j = start
          while (j < end) { ws += amp(j); j += 1 }
          if (64L * ws > total) {
            if (w < 32) lo |= 1L << w else hi |= 1L << (w - 32)
          }
          w += 1
        }
        WavFp(id, hi, lo)
      }
    }

  /** [[wavFingerprint]] over a media table, partition-parallel. */
  def wavFingerprints(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions(rows => rows.map { case (id, bytes) => wavFingerprint(id, bytes) })
      .toDF()
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
  }

  /** `(doc_id, media)` typed view of a media table per the [[asMedia]]
    * contract — the one seam every DataFrame face decodes through, so an
    * operator never cares whether the bytes came from
    * `spark.read.format("binaryFile")`, a parquet landing zone, or a test
    * fixture. Projecting the two columns BEFORE the mapPartitions keeps
    * parquet column pruning effective (kind/n_bytes and any caller-side
    * extras never leave the scan).
    */
  private def mediaPairs(media: DataFrame): Dataset[(Long, Array[Byte])] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("doc_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
  }

  /** STUB decoder: deterministic pseudo-features from the raw bytes (first 8
    * bytes scaled to [0,1]). A real deployment replaces this with the actual
    * image/audio decode + model forward pass; signature stays
    * `Array[Byte] => Array[Float]`.
    */
  def decodeStub(media: Array[Byte]): Array[Float] = {
    val n = 8
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = if (i < media.length) (media(i) & 0xff) / 255.0f else 0.0f
      i += 1
    }
    out
  }

  /** Wrap a text/binary column as a media table. In production the media
    * bytes come from object-store files; the layout contract is the same.
    */
  def asMedia(
      docs: DataFrame,
      binCol: String,
      kind: String,
      idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      lit(kind).as("kind"),
      octet_length(col(binCol).cast("binary")).cast("long").as("n_bytes"),
      col(binCol).cast("binary").as("media"))

  /** Decoded image statistics over a media table of BMP bytes (the
    * [[asMedia]] contract: `doc_id`, `media` binary — from
    * `spark.read.format("binaryFile")`, a parquet landing zone, or a
    * fixture). The decoder parses the bytes for real, and the per-channel
    * means are computed declaratively on the decoded sums so the
    * arithmetic (and its rounding) mirrors the oracle exactly.
    */
  def bmpFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val px = col("width").cast("long") * col("height")
    mediaPairs(media)
      .mapPartitions { rows =>
        // per-partition decoder scope (codec init amortization point)
        rows.map { case (id, bytes) => decodeBmp(id, bytes) }
      }
      .toDF()
      .select(
        col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(col("sum_r").cast("double") / px, 4).as("mean_r"),
        round(col("sum_g").cast("double") / px, 4).as("mean_g"),
        round(col("sum_b").cast("double") / px, 4).as("mean_b"))
  }

  /** Channel sums of every BMP nearest-neighbor-resized to `tw` x `th` —
    * the resize verb of the multimodal surface, over real decoded pixels.
    * Integer-exact end to end, so the DuckDB oracle mirrors the resample
    * index arithmetic over the generating formula.
    */
  def bmpResized(
      media: DataFrame,
      tw: Int = 2,
      th: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions { rows =>
        rows.map { case (id, bytes) => resizeBmpNearest(id, bytes, tw, th) }
      }
      .toDF()
      .select(col("doc_id"), col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** 8x8 average-hash (aHash) of a real decoded BMP — the perceptual
    * fingerprint that makes IMAGE near-dup detection a dedup problem
    * (compare via Hamming distance, band like
    * [[graft.ops.Dedup.simHashPairs]]). Sampling reuses the nearest-
    * neighbor addressing of [[resizeBmpNearest]]; gray = (r+g+b) div 3;
    * bit k set iff `64*gray_k > sum(gray)` — the integer form of
    * "brighter than the mean", no FP mean. Emitted as two 32-bit halves so
    * every value stays a positive BIGINT on any engine.
    */
  def aHashBmp(id: Long, bytes: Array[Byte]): AHash = {
    require(
      bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      s"doc $id: not a BMP")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixelOff = buf.getInt(10)
    val width = buf.getInt(18)
    val height = buf.getInt(22)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    require(
      bpp == 24 && compression == 0 && width > 0 && height > 0,
      s"doc $id: unsupported BMP (bpp=$bpp comp=$compression ${width}x$height)")
    val stride = ((3 * width + 3) / 4) * 4
    require(bytes.length >= pixelOff + stride * height, s"doc $id: truncated BMP")
    val gray = new Array[Long](64)
    var k = 0
    while (k < 64) {
      val sx = (k % 8) * width / 8
      val sy = (k / 8) * height / 8
      val o = pixelOff + (height - 1 - sy) * stride + 3 * sx
      val b = bytes(o) & 0xff
      val g = bytes(o + 1) & 0xff
      val r = bytes(o + 2) & 0xff
      gray(k) = (r + g + b) / 3
      k += 1
    }
    val total = gray.sum
    var hi = 0L
    var lo = 0L
    k = 0
    while (k < 64) {
      if (gray(k) * 64 > total) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      k += 1
    }
    AHash(id, hi, lo)
  }

  /** [[aHashBmp]] over a media table of BMPs, partition-parallel. */
  def bmpAHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions(rows => rows.map { case (id, bytes) => aHashBmp(id, bytes) })
      .toDF()
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
  }

  /** Walk a GVID frame container and decode every `every`-th frame — the
    * frame-sampling verb: stride over the length-prefixed frame index
    * WITHOUT decoding skipped frames (the point of sampling a video is to
    * not pay for the frames you drop), then run the real BMP decode on the
    * selected ones.
    */
  def sampleFrames(id: Long, bytes: Array[Byte], every: Int): Seq[FrameStats] =
    walkFrames(id, bytes, every).map { case (f, frame) =>
      val s = decodeBmp(id, frame)
      FrameStats(id, f, s.sum_r, s.sum_g, s.sum_b)
    }

  /** The GVID container walk shared by every frame-level verb: stride the
    * length-prefixed index, copying out only every `every`-th frame's
    * bytes (skipped frames are never touched beyond their length field).
    */
  private def walkFrames(id: Long, bytes: Array[Byte], every: Int): Seq[(Int, Array[Byte])] = {
    require(every > 0, s"every must be positive (got $every)")
    require(
      bytes.length >= 8 && new String(bytes, 0, 4, "US-ASCII") == "GVID",
      s"doc $id: not a GVID container")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nFrames = buf.getInt(4)
    var off = 8
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var f = 0
    while (f < nFrames) {
      require(bytes.length >= off + 4, s"doc $id: truncated frame index")
      val len = buf.getInt(off)
      off += 4
      require(bytes.length >= off + len, s"doc $id: truncated frame $f")
      if (f % every == 0) {
        out += ((f, java.util.Arrays.copyOfRange(bytes, off, off + len)))
      }
      off += len
      f += 1
    }
    out.result()
  }

  /** DataFrame face of [[sampleFrames]] over a media table of GVID
    * containers: one row per sampled frame per doc.
    */
  def frameSamples(media: DataFrame, every: Int = 2): DataFrame = {
    require(every > 0, s"every must be positive (got $every)")
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) => sampleFrames(id, bytes, every) }
      }
      .toDF()
      .select(col("doc_id"), col("frame_id"), col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** Per-sampled-frame perceptual hashes over a media table of GVID
    * containers — the keyframe-hashing front end of VIDEO near-dup
    * detection ([[graft.ops.Dedup.clipPairs]]): stride the container like
    * [[frameSamples]] (skipped frames never decoded), aHash each selected
    * frame. Once clips are keyframe-hashed, video dedup reduces to the
    * image-banding problem, exactly as images reduced to SimHash.
    */
  def frameAHashes(media: DataFrame, every: Int = 2): DataFrame = {
    require(every > 0, s"every must be positive (got $every)")
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          walkFrames(id, bytes, every).map { case (f, frame) =>
            val h = aHashBmp(id, frame)
            FrameAHash(id, f, h.hash_hi, h.hash_lo)
          }
        }
      }
      .toDF()
      .select(col("doc_id"), col("frame_id"), col("hash_hi"), col("hash_lo"))
  }

  /** Frame-difference scene-cut detection over the decoded clip: a frame
    * opens a new shot when the absolute change in its luminance sum
    * (sum_r + sum_g + sum_b, integer — no FP in the decision) versus the
    * previous frame exceeds `threshold`. This is the classical pixel-
    * difference shot-boundary detector; it runs on [[frameSamples]] with
    * `every = 1`, i.e. on the full decoded frame sequence.
    *
    * Scale shape: the per-frame stats pipeline with the media scan
    * (decode is row-local); the only stateful step is a lag window
    * partitioned by doc_id — per-clip state bounded by clip length, keys
    * uniform. Emits one row per frame after the first: the diff and the
    * cut flag (BIGINT 0/1, oracle-hashable). The window/select columns are
    * [[frameSamples]]' documented output schema (`doc_id`, `frame_id`,
    * channel sums), which is why this face takes no id-column parameter.
    */
  def sceneCuts(
      media: DataFrame,
      threshold: Long = 1500): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("frame_id")
    frameSamples(media, every = 1)
      .withColumn("lum", col("sum_r") + col("sum_g") + col("sum_b"))
      .withColumn("diff", abs(col("lum") - lag("lum", 1).over(w)))
      .filter(col("diff").isNotNull)
      .select(
        col("doc_id"),
        col("frame_id"),
        col("diff").cast("long").as("diff"),
        when(col("diff") > threshold, 1L).otherwise(0L).cast("long").as("is_cut"))
  }

  /** Decoded audio statistics over generated-but-genuine PCM16 WAV bytes —
    * same construction as [[bmpFeatures]] with a RIFF chunk walk instead of
    * a pixel walk. RMS = sqrt(sum_sq / n) evaluated in IEEE double on both
    * engines (integer sums are exact, so no summation-order hazard).
    */
  def wavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions(rows => rows.map { case (id, bytes) => decodeWav(id, bytes) })
      .toDF()
      .select(
        col("doc_id"),
        col("n_samples"),
        round(sqrt(col("sum_sq").cast("double") / col("n_samples")), 4).as("rms"),
        col("peak"))
  }

  /** Audio QUALITY audit of a media table — the gate a training-data
    * pipeline runs before wasting feature-extraction on broken clips:
    * per PCM16-mono clip, `clipped_ppm` (samples at or above `clipLevel`
    * in magnitude — a recording driven past its converter reads near
    * ±32767 for whole stretches), `silent_ppm` (at or below
    * `silenceLevel` — dead air, disconnected mics), and `dc_milli`
    * (1000·mean sample, trunc-div — a DC-offset clip wastes headroom and
    * flags a broken recording chain). Every number is exact integer
    * arithmetic over the decoded samples (no float anywhere), so the
    * audit oracle-hashes; same RIFF walk and partition-parallel batch
    * loop as [[decodeWav]].
    */
  def wavQuality(
      media: DataFrame,
      clipLevel: Int = 32440,
      silenceLevel: Int = 327): DataFrame = {
    require(
      clipLevel > silenceLevel && clipLevel <= 32767 && silenceLevel >= 0,
      s"need 0 <= silenceLevel < clipLevel <= 32767, got ($silenceLevel, $clipLevel)")
    val spark = media.sparkSession
    import spark.implicits._
    mediaPairs(media)
      .mapPartitions(rows =>
        rows.map { case (id, bytes) =>
          parsePcm16(id, bytes) { (buf, dataOff, n) =>
            var nc = 0L; var ns = 0L; var sum = 0L
            var i = 0
            while (i < n) {
              val s = buf.getShort(dataOff + 2 * i).toLong
              val a = math.abs(s)
              if (a >= clipLevel) nc += 1
              if (a <= silenceLevel) ns += 1
              sum += s
              i += 1
            }
            WavQuality(id, n.toLong, nc, ns, sum)
          }
        })
      .toDF()
      .select(
        col("doc_id"),
        col("n_samples"),
        expr("CAST((1000000 * n_clipped) div n_samples AS BIGINT)").as("clipped_ppm"),
        expr("CAST((1000000 * n_silent) div n_samples AS BIGINT)").as("silent_ppm"),
        expr("CAST((1000 * sum_s) div n_samples AS BIGINT)").as("dc_milli"))
  }

  // ---- persisted media fingerprint index (near-dup media at ingest) ----

  /** 64-bit perceptual fingerprints for the two natively-decoded media
    * classes, tagged by medium so an image hash can never collide into an
    * audio match: images ([[aHashBmp]] over `image/` kinds) and audio
    * ([[wavFingerprint]] over `audio/` kinds). Video and other kinds are NOT
    * fingerprinted here — clip-level dedup ([[frameAHashes]] +
    * [[graft.ops.Dedup.clipPairs]]) needs per-frame hashes, and opaque
    * kinds dedup exactly via the text-ingest md5 path; both stay batch
    * ops. One row per fingerprinted item: (doc_id, medium, hash_hi,
    * hash_lo).
    */
  def mediaFingerprints(media: DataFrame): DataFrame =
    bmpAHashes(media.filter(col("kind").startsWith("image/")))
      .withColumn("medium", lit("image"))
      .unionByName(
        wavFingerprints(media.filter(col("kind").startsWith("audio/")))
          .withColumn("medium", lit("audio")))
      .select("doc_id", "medium", "hash_hi", "hash_lo")

  /** Both sides of every media-hash pairing speak the ONE banding kernel
    * ([[graft.ops.Dedup.fpBandKeys]]), with the medium tag in the bucket
    * identity so image and audio hashes can never candidate each other.
    */
  private def fpBands(fp: DataFrame, maxBucket: Int): DataFrame =
    Dedup.fpBandKeys(fp, Seq("medium"), maxBucket)

  /** Banded bipartite Hamming matches: probe items paired with history
    * items of the SAME medium within `maxHamming` bits — the probe/ingest
    * kernel. Candidates come from a (medium, band, bkey) equi-join; for
    * `maxHamming <= 3` the four 16-bit bands give EXACT recall by
    * pigeonhole (3 flipped bits touch at most 3 bands, so one band always
    * matches verbatim — the uncapped-bucket case), and the exact Hamming
    * filter is the verify stage. Beyond 3 the bands become the standard
    * LSH recall trade.
    */
  private def fpMatches(
      probe: DataFrame,
      hist: DataFrame,
      maxHamming: Int,
      maxBucket: Int): DataFrame =
    fpBands(probe, maxBucket).as("a")
      .join(
        fpBands(hist, maxBucket).as("b"),
        col("a.medium") === col("b.medium") && col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey"))
      .select(
        col("a.doc_id").as("doc_id"),
        col("a.medium").as("medium"),
        col("a.hash_hi").as("ha"),
        col("a.hash_lo").as("la"),
        col("b.doc_id").as("match_id"),
        col("b.hash_hi").as("hb"),
        col("b.hash_lo").as("lb"))
      .distinct()
      .withColumn("hamming", Dedup.hamming64(col("ha"), col("la"), col("hb"), col("lb")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id", "medium", "match_id", "hamming")

  /** Persist the media fingerprint index `(doc_id, medium, hash_hi,
    * hash_lo)` — the history side of near-dup media ingest, with the
    * standard lifecycle: full rebuild REPLACES (stale tombstones die),
    * [[appendMediaIndex]] grows batch-wise,
    * [[graft.ops.Similarity.deleteFromIndex]] retracts ids,
    * [[compactMediaIndex]] physically drops them. The store holds
    * 4 longs + a tag per item — raw media bytes never enter it.
    */
  def writeMediaIndex(media: DataFrame, path: String): Unit = {
    val spark = media.sparkSession
    StoreLifecycle.clearTombstones(spark, path)
    mediaFingerprints(media)
      .write.mode("overwrite").parquet(s"$path/fps")
  }

  /** Grow the media index with a new batch's fingerprints. */
  def appendMediaIndex(media: DataFrame, path: String): Unit =
    mediaFingerprints(media)
      .write.mode("append").parquet(s"$path/fps")

  /** The ONE kind→medium mapping every media face keys its drops and
    * history probes on (`image/` kinds → "image", `audio/` → "audio",
    * everything else → "other") — shared so the ingest and facade faces
    * can never disagree on which rows a fingerprint match retires.
    */
  def mediumOf(kind: Column): Column =
    when(kind.startsWith("image/"), "image")
      .when(kind.startsWith("audio/"), "audio")
      .otherwise("other")

  /** Batch items that are near-dups of PERSISTED history: one row per
    * (batch item, live history match) with the exact Hamming distance —
    * `(doc_id, medium, match_id, hamming)`. Tombstoned history drops
    * immediately; history reads are column-pruned to the 4-long
    * fingerprint rows, raw historical media is never re-decoded.
    */
  def probeMediaIndex(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    probeMediaFps(spark, path, mediaFingerprints(batch), maxHamming, maxBucket)

  /** [[probeMediaIndex]] over an ALREADY-computed fingerprint table
    * ([[mediaFingerprints]] schema) — the seam for callers that hash a
    * batch once and reuse it across the in-batch collapse and the history
    * probe ([[graft.api.Pipeline.mediaKeepIncremental]]); the decode pass
    * is the dominant cost, so it must never run twice for one round.
    */
  def probeMediaFps(
      spark: SparkSession,
      path: String,
      fps: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    fpMatches(
      fps,
      StoreLifecycle.minusTombstones(spark, path, spark.read.parquet(s"$path/fps"), "doc_id"),
      maxHamming,
      maxBucket)

  /** `true` when a media fingerprint index exists at `path` — the facade
    * seam ([[graft.api.Pipeline.mediaKeepIncremental]] degrades to the
    * in-batch keep-list when no history has been built yet).
    */
  def mediaIndexExists(spark: SparkSession, path: String): Boolean =
    StoreLifecycle.storeExists(spark, s"$path/fps")

  /** Physically drop tombstoned items' fingerprints and clear the
    * tombstones — probe results unchanged by contract (tmp-and-swap, the
    * gram/LSH/IVF/PQ recipe).
    */
  def compactMediaIndex(spark: SparkSession, path: String): Unit = {
    StoreLifecycle.compactIndexDir(spark, path, "fps", "doc_id")
    StoreLifecycle.clearTombstones(spark, path)
  }

  /** Streaming maintenance round for the media index — near-dup media
    * drops at ingest time like text ([[graft.ops.TextAnalysis.ingestGramBatch]]'s
    * contract, fingerprint edition), called per micro-batch by
    * [[graft.streaming.CorpusIngest.mediaDedupIngest]]. Batch 0 (or an
    * absent store) CLAIMS/replaces the index; each round:
    *
    *   1. collapse in-batch near-dups per medium to the lowest doc id
    *      (banded pairs → connected components — the
    *      [[graft.api.Pipeline.mediaKeep]] rule, applied to the batch);
    *   2. drop survivors that near-match ANY strictly-earlier batch's
    *      live fingerprints (partition pruning on `batch_id` keeps a
    *      retried batch from reading its own half-written rows);
    *   3. land the surviving media rows under `docs/batch_id=N` and
    *      their fingerprints under `fps/batch_id=N` — batch-id-keyed
    *      overwrites give exactly-once under retries.
    *
    * Drops are keyed (doc_id, medium): a doc id carrying several
    * modalities loses only the near-dup one. Non-fingerprinted kinds
    * (video/other) pass through and land — their dedup stays a batch op
    * (see [[mediaFingerprints]]). Empty batches return without consuming
    * the batch-0 claim. Tombstone
    * deletes and [[compactMediaIndex]] apply as for a batch-built index;
    * a stream store stays batch-keyed after compaction (`batch_id=-1`),
    * so compaction is safe MID-stream.
    */
  def ingestMediaBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): Unit = {
    val spark = batch.sparkSession
    // Claim BEFORE the empty check (the StoreLifecycle rule): an empty
    // batch 0 must still retire a previous run's fingerprints, or batch 1
    // would dedup against the dead run's media. The store pins no params:
    // its fingerprints are the claim's pin.
    StoreLifecycle.claim(spark, path, batchId, Seq("docs"), pin = "fps")
    if (batch.isEmpty) return // nothing to fingerprint or land
    val fp = mediaFingerprints(batch).localCheckpoint()
    // drops are keyed (doc_id, medium): a doc whose IMAGE near-matches
    // history must not lose its unrelated audio row, nor a pass-through
    // video row of the same id — one doc id may carry several modalities
    val inBatchDrops = Seq("image", "audio")
      .map { m =>
        val mf = fp.filter(col("medium") === m)
        Dedup
          .clusterPairs(Dedup.aHashPairs(mf, maxHamming, maxBucket), "doc_a", "doc_b")
          .filter(col("cluster_id") =!= col("doc_id"))
          .select(col("doc_id"), lit(m).as("medium"))
      }
      .reduce(_ unionByName _)
    val winners = fp.join(inBatchDrops, Seq("doc_id", "medium"), "left_anti")
    val hist =
      if (StoreLifecycle.storeExists(spark, s"$path/fps")) {
        val raw = spark.read.parquet(s"$path/fps")
        val earlier =
          if (raw.columns.contains("batch_id")) raw.filter(col("batch_id") < batchId) else raw
        StoreLifecycle.minusTombstones(spark, path, earlier, "doc_id")
      } else fp.limit(0)
    val histDrops = fpMatches(winners, hist, maxHamming, maxBucket)
      .select("doc_id", "medium").distinct()
    // materialized once; both writes below anti-join against it (winners
    // already excludes inBatchDrops, so dropKeys ≡ histDrops there — the
    // expensive banded history probe must not re-execute for the fps write)
    val dropKeys = inBatchDrops.unionByName(histDrops).distinct().localCheckpoint()
    batch
      .withColumn("medium", mediumOf(col("kind")))
      .join(dropKeys, Seq("doc_id", "medium"), "left_anti")
      .drop("medium")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/docs/batch_id=$batchId")
    winners
      .join(dropKeys, Seq("doc_id", "medium"), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/fps/batch_id=$batchId")
  }

  /** Batch feature extraction: one decoder instance per partition, streamed
    * over the partition's rows — the mapPartitions batch shape that
    * amortizes model/codec setup at scale.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition setup happens here (codec / model init in real life)
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        digest.reset()
        val md5hex = digest.digest(r.media).map("%02x".format(_)).mkString
        MediaFeatures(r.doc_id, r.kind, r.n_bytes, md5hex, decodeStub(r.media))
      }
    }
  }
}
