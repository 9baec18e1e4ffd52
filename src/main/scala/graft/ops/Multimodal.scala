package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata; decode /
  * feature-extract / frame-sample run as batched per-partition transforms.
  *
  * ALL THREE modalities decode for REAL with zero external jars:
  *  - IMAGE via the JDK's `javax.imageio` (PNG/JPEG/BMP): width/height,
  *    per-channel pixel sums, a block-mean grayscale feature vector.
  *  - AUDIO via `javax.sound.sampled` (WAV/PCM): decoded sample rate, frame
  *    count, exact amplitude sum, a block-mean waveform feature.
  *  - VIDEO via a hand-written YUV4MPEG2 (`.y4m`) container parser
  *    ([[parseY4m]]): y4m is the uncompressed raw-frame interchange format
  *    (plain-text header + `FRAME\n`-delimited planar YUV), so a full parse
  *    needs no codec — real width/height/fps from the stream header, real
  *    frame count, exact per-frame luma sums, a block-mean feature over the
  *    temporally-averaged luma plane. Compressed codecs (H.264 etc.) would
  *    slot in behind the same signature; undecodable payloads fall back to
  *    the labeled [[decodeStub]].
  */
object Multimodal {

  /** STUB — deterministic fallback embedding for UNDECODABLE payloads (a
    * video container this parser does not speak, truncated bytes, an
    * unsupported audio encoding). A real deployment swaps this body for the
    * codec call; signature and batch shape stay identical. */
  private def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    var h = 0x9e3779b97f4a7c15L
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) { h = (h ^ bytes(i)) * 0x100000001b3L; i += 1 }
    }
    Array.tabulate(dim) { d =>
      var z = h + (d + 1) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 30)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & 0xffff).toFloat / 65535.0f
    }
  }

  /** Real image decode: width/height, exact per-channel pixel sums, and a
    * block-mean grayscale feature vector of EXACTLY `dim` floats in [0,1]
    * (grid ceil(sqrt(dim)) x ceil(dim/gridW), first `dim` blocks — an 8x8
    * grid at the default dim=64) — all read from the decoded raster, not
    * from metadata. Returns None on undecodable bytes (callers keep the row
    * with null pixel fields). */
  private[ops] def decodeImage(bytes: Array[Byte], dim: Int): Option[(Int, Int, Long, Long, Long, Array[Float])] = {
    if (bytes == null) return None
    val img =
      try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    val gray = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        sr += r; sg += g; sb += b
        gray(y * w + x) = (r + g + b) / 3.0
        x += 1
      }
      y += 1
    }
    val gridW = math.max(1, math.ceil(math.sqrt(dim.toDouble)).toInt)
    val gridH = math.max(1, (dim + gridW - 1) / gridW)
    val feat = new Array[Float](dim)
    var cell = 0
    while (cell < dim) {
      val bx = cell % gridW
      val by = cell / gridW
      val x0 = bx * w / gridW; val x1 = math.max(x0 + 1, (bx + 1) * w / gridW)
      val y0 = by * h / gridH; val y1 = math.max(y0 + 1, (by + 1) * h / gridH)
      var s = 0.0; var n = 0
      var yy = y0
      while (yy < y1 && yy < h) {
        var xx = x0
        while (xx < x1 && xx < w) { s += gray(yy * w + xx); n += 1; xx += 1 }
        yy += 1
      }
      feat(cell) = if (n == 0) 0.0f else (s / n / 255.0).toFloat
      cell += 1
    }
    Some((w, h, sr, sg, sb, feat))
  }

  /** Real audio decode via the JDK's `javax.sound.sampled`: parses the WAV
    * container + PCM format for REAL (sample rate, channel count, frame
    * count from the stream, samples from the data chunk — nothing comes
    * from caller metadata). Supports the synth corpus' shape (16-bit signed
    * little-endian PCM); other encodings return None (callers fall back to
    * the stub like any undecodable payload). Returns (sampleRate, nSamples,
    * sumAmplitude, block-mean waveform feature of `dim` floats in [0,1]). */
  private[ops] def decodeWav(bytes: Array[Byte], dim: Int): Option[(Int, Long, Long, Array[Float])] = {
    if (bytes == null) return None
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (ais == null) return None
    try {
      val fmt = ais.getFormat
      val ok = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian
      if (!ok) return None
      val data = ais.readAllBytes()
      val n = data.length / 2
      val samples = new Array[Int](n)
      var sum = 0L
      var i = 0
      while (i < n) {
        // little-endian signed 16-bit
        val s = ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort.toInt
        samples(i) = s
        sum += s
        i += 1
      }
      val feat = new Array[Float](dim)
      if (n > 0) {
        var cell = 0
        while (cell < dim) {
          val i0 = (cell.toLong * n / dim).toInt
          val i1 = math.max(i0 + 1, (((cell + 1).toLong * n) / dim).toInt)
          var s = 0.0; var c = 0
          var j = i0
          while (j < i1 && j < n) { s += (samples(j) + 32768) / 65535.0; c += 1; j += 1 }
          feat(cell) = if (c == 0) 0.0f else (s / c).toFloat
          cell += 1
        }
      }
      Some((fmt.getSampleRate.toInt, n.toLong, sum, feat))
    } finally ais.close()
  }

  /** Decoded YUV4MPEG2 stream: real header fields, exact per-frame luma
    * sums, and a block-mean feature over the frame-averaged luma plane. */
  private[graft] final case class Y4m(
      width: Int,
      height: Int,
      fpsNum: Int,
      fpsDen: Int,
      frameLumaSums: Array[Long],
      feature: Array[Float]
  ) {
    def nFrames: Int = frameLumaSums.length
    // integer-truncated rate for the typed feature column; frame-stride math
    // keeps the exact rational (fpsNum, fpsDen) so non-integral rates
    // (NTSC F30000:1001) do not skew sampling
    def fps: Int = fpsNum / fpsDen
    def sumLuma: Long = { var s = 0L; var i = 0; while (i < frameLumaSums.length) { s += frameLumaSums(i); i += 1 }; s }
  }

  /** Upper bound on header-declared luma-plane pixels (w*h): 1<<26 ≈ 67M —
    * double an 8K frame. A malformed header cannot demand a multi-GB
    * allocation or overflow Int frame arithmetic past this gate. */
  private val MaxY4mPixels: Long = 1L << 26

  /** Real video decode: parses the YUV4MPEG2 container (spec: plain-text
    * `YUV4MPEG2 W.. H.. F..:.. .. \n` stream header, then per frame a
    * `FRAME[ params]\n` marker followed by the planar YUV payload). Supports
    * the 4:2:0 chroma family (`C420*`, the format default when no C tag is
    * present) and 4:4:4; anything else — or any malformed byte — returns
    * None and the caller falls back to the stub like other undecodable
    * payloads. Every output is read from the byte stream: dimensions and
    * fps from the header, frame count by walking FRAME markers, luma sums
    * from the Y planes, and a `dim`-float block-mean feature over the
    * temporally-averaged luma (same grid as [[decodeImage]]). */
  private[graft] def parseY4m(bytes: Array[Byte], dim: Int): Option[Y4m] = {
    val magic = "YUV4MPEG2 ".getBytes(StandardCharsets.US_ASCII)
    if (bytes == null || bytes.length < magic.length) return None
    var i = 0
    while (i < magic.length) { if (bytes(i) != magic(i)) return None; i += 1 }
    var eol = i
    while (eol < bytes.length && bytes(eol) != '\n') eol += 1
    if (eol >= bytes.length) return None
    val header = new String(bytes, i, eol - i, StandardCharsets.US_ASCII)
    var w = -1; var h = -1; var fpsNum = -1; var fpsDen = -1; var chroma = "420jpeg"
    header.split(' ').foreach { tok =>
      if (tok.nonEmpty) tok.charAt(0) match {
        case 'W' => w = tok.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = tok.drop(1).toIntOption.getOrElse(-1)
        case 'F' =>
          val nd = tok.drop(1).split(':')
          if (nd.length == 2) {
            fpsNum = nd(0).toIntOption.getOrElse(-1)
            fpsDen = nd(1).toIntOption.getOrElse(-1)
          }
        case 'C' => chroma = tok.drop(1)
        case _ => // Ip/A/X tags carry no information we extract
      }
    }
    if (w <= 0 || h <= 0 || fpsNum <= 0 || fpsDen <= 0) return None
    // All frame-size arithmetic in Long: header-declared W/H are untrusted,
    // and w*h can overflow Int (a wrapped-negative size would corrupt the
    // position checks below or throw NegativeArraySizeException out of the
    // documented return-None contract).
    val lumaBytes: Long = w.toLong * h
    val chromaBytes: Long =
      if (chroma.startsWith("420")) { if (w % 2 != 0 || h % 2 != 0) return None; (w / 2).toLong * (h / 2) * 2 }
      // 4:4:4 = three full-resolution planes per frame: Y (counted as
      // lumaBytes) + U + V
      else if (chroma == "444") lumaBytes * 2
      else return None
    // before ANY allocation sized by the header: the payload must hold at
    // least one "FRAME\n" marker plus one full frame, and the luma plane must
    // stay Int-indexable (MaxY4mPixels also rejects absurd allocations a
    // tiny malformed buffer could otherwise demand)
    if (lumaBytes > MaxY4mPixels) return None
    if ((eol + 1).toLong + 6L + lumaBytes + chromaBytes > bytes.length) return None
    val nPix = lumaBytes.toInt

    val gridW = math.max(1, math.ceil(math.sqrt(dim.toDouble)).toInt)
    val gridH = math.max(1, (dim + gridW - 1) / gridW)
    // precompute each pixel's feature cell once; frames reuse it
    val cellOf = new Array[Int](nPix)
    locally {
      var p = 0
      while (p < nPix) {
        val bx = math.min(gridW - 1, (p % w) * gridW / w)
        val by = math.min(gridH - 1, (p / w) * gridH / h)
        val c = by * gridW + bx
        cellOf(p) = if (c < dim) c else -1
        p += 1
      }
    }
    val cellSum = new Array[Double](dim)
    val cellN = new Array[Long](dim)
    val frameSums = scala.collection.mutable.ArrayBuffer.empty[Long]
    val frameMagic = "FRAME".getBytes(StandardCharsets.US_ASCII)
    var pos = eol + 1
    while (pos < bytes.length) {
      if (pos + frameMagic.length > bytes.length) return None
      var j = 0
      while (j < frameMagic.length) { if (bytes(pos + j) != frameMagic(j)) return None; j += 1 }
      pos += frameMagic.length
      while (pos < bytes.length && bytes(pos) != '\n') pos += 1 // frame params ignored
      if (pos >= bytes.length) return None
      pos += 1
      if (pos.toLong + lumaBytes + chromaBytes > bytes.length) return None
      var sum = 0L
      var p = 0
      while (p < nPix) {
        val v = bytes(pos + p) & 0xff
        sum += v
        val c = cellOf(p)
        if (c >= 0) { cellSum(c) += v; cellN(c) += 1 }
        p += 1
      }
      frameSums += sum
      // nPix + chromaBytes <= 4 * MaxY4mPixels < Int.MaxValue and the bound
      // check above guarantees the sum stays <= bytes.length
      pos += nPix + chromaBytes.toInt
    }
    if (frameSums.isEmpty) return None
    val feat = new Array[Float](dim)
    var c = 0
    while (c < dim) { feat(c) = if (cellN(c) == 0) 0.0f else (cellSum(c) / cellN(c) / 255.0).toFloat; c += 1 }
    Some(Y4m(w, h, fpsNum, fpsDen, frameSums.toArray, feat))
  }

  private def featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_amp", LongType, nullable = true),
    StructField("fps", IntegerType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("sum_luma", LongType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)
  ))

  /** Batched feature extraction: one partition = one decode batch (the Spark
    * executor keeps codec state warm across the iterator, exactly like a
    * pandas-batch UDF holds a model per batch). Image rows are decoded with
    * javax.imageio (real pixels), audio rows with javax.sound.sampled (real
    * WAV/PCM samples), video rows with [[parseY4m]] (real frames); any
    * undecodable payload keeps its row with null typed fields and the
    * labeled stub embedding. */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    val bytesIdx = media.schema.fieldIndex("bytes")
    val idIdx = media.schema.fieldIndex("media_id")
    val modIdx = media.schema.fieldIndex("modality")
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bytesIdx)
        val modality = r.getString(modIdx)
        val nBytes = if (bytes == null) 0 else bytes.length
        val img = if (modality == "image") decodeImage(bytes, dim) else None
        val wav = if (modality == "audio") decodeWav(bytes, dim) else None
        val vid = if (modality == "video") parseY4m(bytes, dim) else None
        (img, wav, vid) match {
          case (Some((w, h, sr, sg, sb, feat)), _, _) =>
            Row(r.getLong(idIdx), modality, nBytes, w, h, sr, sg, sb, null, null, null, null, null, null, feat)
          case (_, Some((rate, n, sum, feat)), _) =>
            Row(r.getLong(idIdx), modality, nBytes, null, null, null, null, null, rate, n, sum, null, null, null, feat)
          case (_, _, Some(y4m)) =>
            Row(r.getLong(idIdx), modality, nBytes, y4m.width, y4m.height, null, null, null, null, null, null,
              y4m.fps, y4m.nFrames.toLong, y4m.sumLuma, y4m.feature)
          case _ =>
            Row(r.getLong(idIdx), modality, nBytes, null, null, null, null, null, null, null, null, null, null, null,
              decodeStub(bytes, dim))
        }
      }
    }(Encoders.row(featureSchema))
  }

  private val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("sum_luma", LongType, nullable = false)
  ))

  /** REAL frame sampling for video rows: parse the y4m stream, keep one
    * frame every `everyMs` of media time (stride = everyMs x the fps READ
    * FROM THE STREAM HEADER, min 1 — frame 0 always kept), and emit the
    * exploded (media_id, frame_idx, sum_luma) layout with each kept frame's
    * exact decoded luma sum. Undecodable video rows emit nothing (they are
    * the rows extractFeatures marks with null typed fields). */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame = {
    val bytesIdx = media.schema.fieldIndex("bytes")
    val idIdx = media.schema.fieldIndex("media_id")
    media
      .filter(col("modality") === "video")
      .mapPartitions { it =>
        it.flatMap { r =>
          parseY4m(r.getAs[Array[Byte]](bytesIdx), dim = 1) match {
            case Some(y4m) =>
              // exact rational rate in Long arithmetic: F30000:1001 strides
              // by 30000*everyMs/(1000*1001) frames, not a truncated 29 fps
              val stride = math.max(1L, everyMs * y4m.fpsNum / (1000L * y4m.fpsDen))
              val id = r.getLong(idIdx)
              (0 until y4m.nFrames).iterator
                .filter(_ % stride == 0)
                .map(f => Row(id, f.toLong, y4m.frameLumaSums(f)))
            case None => Iterator.empty
          }
        }
      }(Encoders.row(frameSchema))
  }

  /** Deterministic real PNG for id: a (16 + id%17) x (16 + id%13) image whose
    * channels are x-gradients ((c0 + x) mod 256 with c0 = id*{7,11,13} mod
    * 256) — per-pixel varying, so a feature extractor must actually decode,
    * yet every pixel statistic is closed-form for the SQL oracle. */
  def synthPng(id: Long): Array[Byte] = {
    val w = 16 + math.floorMod(id, 17L).toInt
    val h = 16 + math.floorMod(id, 13L).toInt
    val r0 = math.floorMod(id * 7, 256L).toInt
    val g0 = math.floorMod(id * 11, 256L).toInt
    val b0 = math.floorMod(id * 13, 256L).toInt
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = (((r0 + x) % 256) << 16) | (((g0 + x) % 256) << 8) | ((b0 + x) % 256)
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Deterministic real WAV for id: mono 16-bit signed little-endian PCM at
    * 8 kHz, n = 256 + id%256 samples, sample[i] = ((id*7919 + i*2663) mod
    * 65536) - 32768 — per-sample varying, so a feature extractor must
    * actually parse the container and data chunk, yet every decoded
    * statistic is closed-form for the SQL oracle. The JDK's canonical WAVE
    * writer emits a 44-byte RIFF/fmt/data header, so the byte size is
    * 44 + 2n (pinned by the test suite). */
  def synthWav(id: Long): Array[Byte] = {
    val n = 256 + math.floorMod(id, 256L).toInt
    val data = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val s = (math.floorMod(id * 7919 + i.toLong * 2663, 65536L) - 32768L).toInt
      data(2 * i) = (s & 0xff).toByte // little-endian
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val baos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Deterministic real YUV4MPEG2 stream for id: w = 16 + 2*(id%9),
    * h = 16 + 2*(id%7) (even, as 4:2:0 requires), 25 fps, nf = 2 + id%4
    * frames; luma Y[f][p] = (id*17 + f*31 + p) mod 256 over raster index p
    * (per-pixel AND per-frame varying, so an extractor must actually walk
    * the planes), chroma flat 128. Every decoded statistic is closed-form
    * for the SQL oracle — including total size: the header is exactly 41
    * bytes (w and h are always 2 digits) and each frame 6 + 3*w*h/2, so
    * n_bytes = 41 + nf*(6 + 3*w*h/2). */
  def synthY4m(id: Long): Array[Byte] = {
    val w = 16 + 2 * math.floorMod(id, 9L).toInt
    val h = 16 + 2 * math.floorMod(id, 7L).toInt
    val nf = 2 + math.floorMod(id, 4L).toInt
    val y0 = math.floorMod(id * 17, 256L).toInt
    val out = new ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes(StandardCharsets.US_ASCII))
    val chroma = new Array[Byte]((w / 2) * (h / 2) * 2)
    java.util.Arrays.fill(chroma, 128.toByte)
    var f = 0
    while (f < nf) {
      out.write("FRAME\n".getBytes(StandardCharsets.US_ASCII))
      val y = new Array[Byte](w * h)
      var p = 0
      while (p < y.length) { y(p) = ((y0 + f * 31 + p) % 256).toByte; p += 1 }
      out.write(y)
      out.write(chroma)
      f += 1
    }
    out.toByteArray
  }

  /** Test/bench helper: wrap any (doc_id, text) table as media rows — image
    * rows carry REAL PNG bytes ([[synthPng]]), audio rows REAL WAV bytes
    * ([[synthWav]]), video rows REAL YUV4MPEG2 streams ([[synthY4m]]). */
  def synthesize(documents: DataFrame): DataFrame = {
    val pngUdf = udf((id: Long) => synthPng(id))
    val wavUdf = udf((id: Long) => synthWav(id))
    val y4mUdf = udf((id: Long) => synthY4m(id))
    documents.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("modality"),
      when(col("doc_id") % 3 === 0, pngUdf(col("doc_id")))
        .when(col("doc_id") % 3 === 1, wavUdf(col("doc_id")))
        .otherwise(y4mUdf(col("doc_id"))).as("bytes"),
      struct(
        when(col("doc_id") % 3 === 0, (lit(16) + col("doc_id") % 17).cast("int"))
          .when(col("doc_id") % 3 === 2, (lit(16) + lit(2) * (col("doc_id") % 9)).cast("int"))
          .otherwise(lit(null).cast("int")).as("width"),
        when(col("doc_id") % 3 === 0, (lit(16) + col("doc_id") % 13).cast("int"))
          .when(col("doc_id") % 3 === 2, (lit(16) + lit(2) * (col("doc_id") % 7)).cast("int"))
          .otherwise(lit(null).cast("int")).as("height"),
        // 25 fps -> 40 ms per frame; audio duration from the PCM length
        when(col("doc_id") % 3 === 2, (lit(2) + col("doc_id") % 4) * 40L)
          .when(col("doc_id") % 3 === 1, (lit(256) + col("doc_id") % 256) * 1000L / 8000L)
          .otherwise(lit(null)).cast("long").as("duration_ms"),
        when(col("doc_id") % 3 === 0, lit("png"))
          .when(col("doc_id") % 3 === 1, lit("wav"))
          .otherwise(lit("y4m")).as("codec")
      ).as("meta")
    )
  }
}
