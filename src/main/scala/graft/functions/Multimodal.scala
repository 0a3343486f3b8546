package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns next to typed metadata. Image
  * (PNG/JPEG/BMP/GIF via `javax.imageio`) and audio (WAV/AIFF via
  * `javax.sound.sampled`) decode is REAL — both codecs ship inside the
  * JDK, no external library needed — through the batched `mapPartitions`
  * seam ([[decodeImagesBatched]], [[decodeWavBatched]]). Only formats the
  * JDK has no codec for (video, mp3, …) fall back to the deterministic
  * hash-based feature stub (`fakeDecodeFeatures`), whose body a cluster
  * with codec libraries replaces behind the same column signature.
  *
  * Scale notes: binaries stay columnar in parquet; never `collect` them.
  * Feature extraction is a map-side projection; partition sizing should be
  * driven by `spark.sql.files.maxPartitionBytes` since rows are wide.
  * Decoders run per executor thread — `ImageIO`/`AudioSystem` are
  * thread-safe for reads and need no display (headless-safe).
  */
object Multimodal {

  /** Canonical media-table schema: id + opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),   // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType))))))

  def nBytes(content: Column): Column = octet_length(content)

  def contentHash(content: Column): Column = sha2(content, 256)

  /** First `n` bytes as hex — the "magic number" header sniff. */
  def headerHex(content: Column, n: Int = 8): Column = hex(substring(content, 1, n))

  /** STUB decode → feature vector. Deterministic fake standing in for a real
    * image/audio decoder (none available offline): 8 doubles derived from
    * content hash chunks, normalized to [0,1). Replace the body — not the
    * signature — with a real decoder on a cluster with codec libraries.
    */
  def fakeDecodeFeatures(content: Column, dims: Int = 8): Column =
    transform(sequence(lit(0), lit(dims - 1)),
      i => pmod(xxhash64(content, i), lit(1000000L)).cast("double") / lit(1000000.0))

  /** Frame sampling: every `stride`-th fixed-size chunk of the byte stream —
    * the real plumbing for video frame extraction (offsets, batch shape);
    * a real decoder swaps byte-chunking for keyframe indices.
    */
  def frameSample(content: Column, frameBytes: Int, stride: Int, maxFrames: Int): Column =
    filter(
      array((0 until maxFrames).map { i =>
        substring(content, i * frameBytes * stride + 1, frameBytes)
      }: _*),
      f => octet_length(f) > 0)

  /** Full featurize projection over a media table. */
  def featurize(df: DataFrame, contentCol: String = "content"): DataFrame =
    df.withColumns(Map(
      "n_bytes" -> nBytes(col(contentCol)),
      "content_hash" -> contentHash(col(contentCol)),
      "header_hex" -> headerHex(col(contentCol)),
      "features" -> fakeDecodeFeatures(col(contentCol))))

  final case class MediaRow(media_id: Long, content: Array[Byte])
  final case class DecodedRow(media_id: Long, n_bytes: Int, features: Array[Double])

  /** Batched decode via `mapPartitions` — the Scala analog of a vectorized
    * pandas-UDF decode: each partition's rows are grouped into fixed-size
    * batches and handed to the decoder whole, the shape a native/FFI codec
    * wants (amortized setup, contiguous buffers). The decoder body is the
    * STUB; the batching, schema, and encoder plumbing are the real contract.
    */
  def decodeBatched(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("content")).as[MediaRow]
      .mapPartitions(_.grouped(batchSize).flatMap(decodeBatchStub))
      .toDF()
  }

  /** STUB batch decoder: deterministic features from the content bytes.
    * A real implementation passes the batch to an image/audio codec.
    */
  private def decodeBatchStub(batch: Seq[MediaRow]): Seq[DecodedRow] =
    batch.map { m =>
      val h = java.util.Arrays.hashCode(m.content)
      DecodedRow(m.media_id, m.content.length,
        Array.tabulate(8)(i => ((h.toLong * (i + 1)) & 0xFFFFFFL).toDouble / 0xFFFFFF))
    }

  final case class ImageDecoded(media_id: Long, ok: Boolean, width: Int,
    height: Int, mean_r: Double, mean_g: Double, mean_b: Double,
    grid: Array[Double])

  /** REAL image decode via the JDK's `javax.imageio` (PNG, JPEG, BMP, GIF —
    * no external library): per image, dimensions, per-channel means in
    * [0,1], and a 2×4 grayscale grid — the cheap perceptual signature that
    * feeds near-dup/quality filters. Undecodable, truncated, or
    * decompression-bomb payloads (header dimensions above `maxPixels`,
    * checked BEFORE any pixel allocation) yield `ok = false` with zeroed
    * features instead of failing the task — corrupt media is data, not an
    * error, at corpus scale. Map-side only; decoding reads from a
    * memory-backed stream (never ImageIO's default temp-file spool) and
    * pixels come through one bulk `getRGB` per image.
    */
  def decodeImagesBatched(df: DataFrame,
                          maxPixels: Long = 1L << 24): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("content")).as[MediaRow]
      .mapPartitions(_.map(decodeImage(_, maxPixels)))
      .toDF()
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private[functions] def decodeImage(m: MediaRow,
                                     maxPixels: Long = 1L << 24): ImageDecoded = {
    val fail = ImageDecoded(m.media_id, ok = false, 0, 0, 0.0, 0.0, 0.0,
      Array.fill(8)(0.0))
    if (m.content == null || m.content.isEmpty) return fail
    try {
      // memory-backed stream: ImageIO.read(InputStream) would spool every
      // payload to a java.io.tmpdir cache file first (and fail outright on
      // an unwritable tmpdir) — pure overhead when the bytes are in RAM
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(m.content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return fail // no registered codec
        val reader = readers.next()
        reader.setInput(iis)
        try {
          // bomb guard: dimensions come from the HEADER, before the raster
          // is materialized — a few-KB 50000×50000 PNG would otherwise
          // allocate ~10 GB and kill the executor with an un-catchable OOM
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) return fail
          val img = reader.read(0)
          // row-at-a-time getRGB into one reused O(w) buffer: a bulk
          // w*h read would transiently DOUBLE peak per-image memory
          // (raster + int copy — ~128 MB at the maxPixels cap, per task)
          val rowBuf = new Array[Int](w)
          var sr, sg, sb = 0L
          val cellSum = Array.fill(8)(0L)
          val cellN = Array.fill(8)(0L)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, rowBuf, 0, w)
            val gy = y * 2 / h // in [0,1] for y < h
            var x = 0
            while (x < w) {
              val p = rowBuf(x)
              val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
              sr += r; sg += g; sb += b
              val c = gy * 4 + x * 4 / w
              cellSum(c) += (r + g + b) / 3
              cellN(c) += 1
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          ImageDecoded(m.media_id, ok = true, w, h,
            r6(sr.toDouble / n / 255.0), r6(sg.toDouble / n / 255.0),
            r6(sb.toDouble / n / 255.0),
            Array.tabulate(8)(c =>
              if (cellN(c) == 0) 0.0 else r6(cellSum(c).toDouble / cellN(c) / 255.0)))
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => fail }
  }

  final case class AudioDecoded(media_id: Long, ok: Boolean, sample_rate: Int,
    n_frames: Long, duration_ms: Long, rms: Double, peak: Double)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/AU
    * PCM): sample rate, frame count, duration, and normalized RMS/peak
    * amplitude in [0,1] — the silence/clipping screens an audio corpus
    * filters on. Same corrupt-is-data posture and map-side shape as
    * [[decodeImagesBatched]]. Handles 8-bit and 16-bit linear PCM (signed
    * or unsigned, either endianness), averaging across channels;
    * companded encodings (µ-law/A-law) report `ok = false` rather than
    * being misread as linear samples.
    */
  def decodeWavBatched(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("content")).as[MediaRow]
      .mapPartitions(_.map(decodeWav))
      .toDF()
  }

  private[functions] def decodeWav(m: MediaRow): AudioDecoded = {
    val fail = AudioDecoded(m.media_id, ok = false, 0, 0L, 0L, 0.0, 0.0)
    if (m.content == null || m.content.isEmpty) return fail
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.content))
      try {
        val fmt = ais.getFormat
        val bits = fmt.getSampleSizeInBits
        val enc = fmt.getEncoding
        val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        // the amplitude math below is LINEAR PCM only: a µ-law/A-law WAV
        // also parses as 8-bit, but its log-companded bytes would decode
        // to garbage (µ-law silence ≈ 0.99 amplitude) with ok = true
        if (!signed && enc != javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
          return fail
        if (bits != 8 && bits != 16) return fail
        val bytes = ais.readAllBytes()
        val bytesPerSample = bits / 8
        val nSamples = bytes.length / bytesPerSample
        if (nSamples == 0) return fail
        var sumSq = 0.0
        var peak = 0.0
        var i = 0
        while (i < nSamples) {
          val v =
            if (bits == 8) {
              val b = bytes(i)
              if (signed) b.toDouble / 128.0 else ((b & 0xFF) - 128).toDouble / 128.0
            } else {
              val o = i * 2
              val (lo, hi) =
                if (fmt.isBigEndian) (bytes(o + 1), bytes(o)) else (bytes(o), bytes(o + 1))
              val s = ((hi << 8) | (lo & 0xFF)).toShort
              (if (signed) s.toDouble
               else ((s & 0xFFFF) - 32768).toDouble) / 32768.0
            }
          sumSq += v * v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        val frames = nSamples.toLong / fmt.getChannels
        val rate = fmt.getSampleRate.toInt
        AudioDecoded(m.media_id, ok = true, rate, frames,
          if (rate == 0) 0L else frames * 1000L / rate,
          r6(math.sqrt(sumSq / nSamples)), r6(math.min(peak, 1.0)))
      } finally ais.close()
    } catch { case _: Exception => fail }
  }
}
