package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `BinaryType` columns with typed metadata, processed per-partition in
  * batches. Two decode tiers:
  *
  *   - [[pngRoundTripMeta]] — REAL codec work via the JDK's own
  *     `javax.imageio` (headless-safe, zero extra dependency): encode a
  *     deterministic per-row image to real PNG bytes, decode it back, and
  *     emit decoded dimensions + pixel reads. This is an actual
  *     image-decode running distributed in `mapPartitions`.
  *   - [[wavRoundTripMeta]] — REAL audio container/format parsing via the
  *     JDK's `javax.sound.sampled`: encode a deterministic PCM16 buffer to
  *     actual RIFF/WAVE bytes, decode it back, and emit format + amplitude
  *     statistics from the decoded frames.
  *   - [[fakeDecodeMeta]] — the declared STUB for codecs the JDK does NOT
  *     ship (JPEG2000/video/MP3-family audio): deterministic pseudo-metadata from the
  *     payload bytes with the same per-partition execution shape, so a
  *     JNI/library decoder swaps in without touching the plumbing.
  */
object Multimodal {

  /** Extracted-metadata schema appended by the decoder. */
  val metaSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** Spread a narrow pre-decode projection across every core. Codec work is
    * CPU-bound while the fixture scan is a handful of row-group tasks, so
    * without this the decode keys run ~5 tasks on a 32-core session. The
    * shuffled rows are two longs (a few bytes each) — negligible next to the
    * per-row encode/decode — so a round-robin repartition is the right tool
    * here. With real STORED payloads the payload bytes should never be
    * shuffled; there you widen decode parallelism at the scan instead
    * (lower `spark.sql.files.maxPartitionBytes`).
    */
  private def spreadForCodec(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Per-partition codec handle. The static `ImageIO.write`/`ImageIO.read`
    * entry points re-scan the plugin registry on every call and (by JDK
    * default) spool each stream through a DISK-backed cache file — at 32
    * concurrent tasks the per-image temp-file create/delete serializes on
    * the filesystem (measured here: task run-time 1.4x task cpu-time and
    * ~2.5 ms/image on 8-700 pixel images). One writer/reader pair per
    * partition over in-memory streams is the production decode shape: the
    * registry is consulted once per task and no codec byte touches disk.
    */
  private final class Codec(fmt: String) {
    private val writer = javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
    private val reader = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(img)
        ios.flush()
      } finally ios.close()
      bos.toByteArray
    }
    def decode(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        reader.setInput(iis)
        reader.read(0)
      } finally iis.close()
    }
    def dispose(): Unit = { writer.dispose(); reader.dispose() }
  }

  /** Release a per-partition codec instance when the task ends — success
    * OR failure (exhaustion-based cleanup misses the failure path). The
    * `Option` guard keeps the helpers callable outside a task (driver
    * unit probes).
    */
  private def disposeAtTaskEnd(cleanup: () => Unit): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => cleanup()))

  /** Per-partition WAVE codec handle — the audio sibling of [[Codec]].
    * `AudioSystem.write`/`AudioSystem.getAudioInputStream` route EVERY
    * call through `JDK13Services.getProviders`, a globally synchronized
    * JDK method: at 32 concurrent tasks the row loop serializes on that
    * monitor (measured at sf1, 50k rows: 476 s task run-time vs 21.7 s
    * task CPU — ~95% monitor wait). Resolving the WAVE
    * `AudioFileWriter`/`AudioFileReader` SPI once per partition via
    * `ServiceLoader` and invoking the providers directly keeps the same
    * real RIFF/WAVE codec but takes the global lock once per task instead
    * of twice per row.
    */
  private final class WavCodec {
    import javax.sound.sampled._
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
    import scala.jdk.CollectionConverters._
    private val writer: AudioFileWriter =
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).asScala
        .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
        .getOrElse(throw new IllegalStateException("no WAVE writer SPI"))
    private val reader: AudioFileReader = {
      // probe each reader with a real one-sample WAV from our own writer
      val probe = {
        val fmt = new AudioFormat(8000f, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(Array[Byte](0, 0)), fmt, 1L)
        val bos = new java.io.ByteArrayOutputStream()
        writer.write(ais, AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala
        .find { r =>
          try {
            r.getAudioInputStream(new java.io.ByteArrayInputStream(probe))
            true
          } catch { case _: UnsupportedAudioFileException => false }
        }
        .getOrElse(throw new IllegalStateException("no WAVE reader SPI"))
    }
    def encode(ais: AudioInputStream): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      writer.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def decode(payload: Array[Byte]): AudioInputStream =
      reader.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
  }

  /** Fabricate a binary-asset table from any string column — the test-data
    * path (UTF-8 bytes stand in for media payloads).
    */
  def assetsFromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit("image/fake").as("kind"),
      col(textCol).cast("binary").as("payload"))

  /** STUB decoder ??? replacement: deterministic fake "header parse" that
    * reads dimensions from the first payload bytes (as a real decoder would
    * read a PNG IHDR). Runs per-partition over iterator batches — the same
    * execution shape a native decoder needs (one library handle per
    * partition, streaming batches, no driver involvement).
    */
  def fakeDecodeMeta(assets: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(metaSchema)
    assets.select("asset_id", "kind", "payload").mapPartitions { rows =>
      // per-partition "codec handle" would be initialized here
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val n = if (payload == null) 0L else payload.length.toLong
        // deterministic fake: dimensions from the first two bytes
        val w = if (n >= 1) (payload(0) & 0xff) + 1 else 0
        val h = if (n >= 2) (payload(1) & 0xff) + 1 else 0
        Row(r.getLong(0), r.getString(1), n, w, h)
      }
    }(enc)
  }

  /** Pure-expression metadata over binary payloads (codegen'd, no stub):
    * byte length, first-byte value, content hash. This is the oracle-checked
    * surface proving binary columns flow through scan → project → hash.
    */
  def binaryMeta(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      ascii(col("payload").cast("string")).as("first_byte"),
      md5(col("payload")).as("content_md5"))

  /** REAL image decode through the JDK's `javax.imageio` PNG codec — no
    * stub, no external dependency. Per document row, a deterministic
    * gray-fill image (width = n_chars % 31 + 1, height = doc_id % 17 + 1,
    * gray level = doc_id % 256) is ENCODED to real PNG bytes — the payload
    * a multimodal pipeline would store in its binary column — and then
    * DECODED back with `ImageIO.read`; the output is what only a real
    * decode can know: the codec-parsed dimensions and an actual pixel read.
    * An oracle predicts all three from the source table, so the whole
    * encode→decode round trip is hash-checked.
    *
    * Execution shape is the production one: codec work runs per partition
    * inside `mapPartitions` (one `ImageIO` pipeline per task, no driver
    * involvement, no shuffle — map-only over however the corpus is
    * partitioned).
    */
  def pngRoundTripMeta(docs: DataFrame): DataFrame =
    losslessRoundTripMeta(docs, "png")

  /** Shared round trip for the LOSSLESS codecs the JDK ships (PNG, GIF,
    * BMP): the solid-gray image survives encode→decode bit-exactly in all
    * three (GIF's 256-color palette holds every gray level), so one oracle
    * — predicted dims + the exact (0,0) pixel — covers each format key.
    */
  def losslessRoundTripMeta(docs: DataFrame, fmt: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("red0", IntegerType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val codec = new Codec(fmt)
      disposeAtTaskEnd(() => codec.dispose())
      rows.map { r =>
        val id = r.getLong(0)
        val w = (r.getLong(1) % 31).toInt + 1
        val h = (id % 17).toInt + 1
        val g = (id % 256).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (g << 16) | (g << 8) | g
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val payload = codec.encode(img) // the real stored binary payload
        val decoded = codec.decode(payload)
        Row(id, decoded.getWidth, decoded.getHeight,
          (decoded.getRGB(0, 0) >> 16) & 0xff)
      }
    }(enc)
  }

  /** REAL audio round trip via the JDK's own `javax.sound.sampled` stack
    * (the audio sibling of [[pngRoundTripMeta]], zero extra dependency):
    * per row a deterministic PCM16-mono sample buffer is ENCODED to a real
    * RIFF/WAVE payload with `AudioSystem.write` — the actual stored binary
    * — then DECODED back with `AudioSystem.getAudioInputStream`, which
    * parses the container and format chunks for real. Emitted features are
    * the decoded format's sample rate plus integer amplitude statistics
    * (count / sum / sum-of-squares — the RMS-energy building blocks)
    * recomputed from the DECODED frames, so the oracle predicts them from
    * the generator formula while Spark derives them from actual parsed
    * audio. Map-only `mapPartitions`; only the fixed-width feature row
    * leaves the task. Compressed codecs (MP3/AAC/Opus) stay in the
    * declared stub tier — the JDK ships no decoder for them.
    */
  /** RIFF container structure parse from REAL WAV bytes — the
    * container-level scan an ingest runs before any codec work (chunk
    * walk, not sample decode): encode the deterministic PCM16 buffer
    * with the real JDK WAVE writer, then walk the RIFF chunk table
    * byte-by-byte (4-char ids + little-endian u32 sizes) and emit what
    * the CONTAINER says — overall RIFF size, subchunk count, fmt and
    * data chunk sizes. The oracle states the spec-mandated values
    * (riff = 36 + 2n for canonical fmt(16)+data PCM), so a writer that
    * padded or reordered chunks would fail the compare loudly.
    */
  def wavRiffChunks(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("riff_size", LongType, nullable = false),
      StructField("n_chunks", IntegerType, nullable = false),
      StructField("fmt_size", LongType, nullable = false),
      StructField("data_size", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"))).mapPartitions { rows =>
      import javax.sound.sampled._
      val codec = new WavCodec
      def u32(b: Array[Byte], off: Int): Long =
        (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
          ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
      def id4(b: Array[Byte], off: Int): String =
        new String(b, off, 4, "US-ASCII")
      rows.map { r =>
        val id = r.getLong(0)
        val n = (id % 50).toInt + 20
        val sr = 8000 + (id % 4).toInt * 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val payload = codec.encode(ais)
        require(id4(payload, 0) == "RIFF" && id4(payload, 8) == "WAVE",
          s"not a RIFF/WAVE container for asset $id")
        val riffSize = u32(payload, 4)
        var off = 12
        var nChunks = 0
        var fmtSize = -1L
        var dataSize = -1L
        while (off + 8 <= payload.length) {
          val cid = id4(payload, off)
          val sz = u32(payload, off + 4)
          // untrusted size field: a declared size >= 2^31 wraps sz.toInt
          // negative and would walk `off` backwards forever; a size past
          // the buffer end means a truncated container — stop either way
          require(sz >= 0L && off.toLong + 8L + sz <= payload.length,
            s"malformed RIFF chunk '$cid' at $off: size $sz exceeds " +
              s"payload ${payload.length} for asset $id")
          nChunks += 1
          if (cid == "fmt ") fmtSize = sz
          if (cid == "data") dataSize = sz
          off += 8 + sz.toInt + (sz.toInt & 1) // chunks pad to even
        }
        Row(id, riffSize, nChunks, fmtSize, dataSize)
      }
    }(enc)
  }

  def wavRoundTripMeta(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("sum_amp", LongType, nullable = false),
      StructField("sumsq_amp", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"))).mapPartitions { rows =>
      import javax.sound.sampled._
      val codec = new WavCodec
      rows.map { r =>
        val id = r.getLong(0)
        val n = (id % 50).toInt + 20
        val sr = 8000 + (id % 4).toInt * 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val payload = codec.encode(ais) // the real stored WAV binary
        val in = codec.decode(payload)
        val f = in.getFormat
        val decoded = in.readAllBytes()
        val m = decoded.length / 2
        var sum = 0L
        var sumsq = 0L
        var j = 0
        while (j < m) {
          val lo = decoded(2 * j) & 0xff
          val s = (decoded(2 * j + 1).toInt << 8) | lo
          sum += s
          sumsq += s.toLong * s
          j += 1
        }
        Row(id, f.getSampleRate.toInt, m.toLong, sum, sumsq)
      }
    }(enc)
  }

  /** REAL audio downsampling over REAL decoded PCM — the sample-rate
    * normalization step of an audio ingest (every speech model wants one
    * rate): the deterministic PCM16 buffer round-trips the actual
    * RIFF/WAVE codec ([[wavRoundTripMeta]]'s path), then an explicit
    * decimate-by-2 kernel averages each sample pair with TRUNCATING
    * division (Java `/`, matching DuckDB's `//` which truncates toward
    * zero on negatives — measured: -3 // 2 = -1, not floor's -2; a
    * floorDiv kernel diverges by one on every odd negative pair sum).
    * The oracle predicts the
    * decimated sums from the generator; Spark computes them from the
    * DECODED frames, so codec + kernel are both checked.
    */
  def wavDecimateMeta(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_out", LongType, nullable = false),
      StructField("sum_dec", LongType, nullable = false),
      StructField("sumsq_dec", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"))).mapPartitions { rows =>
      import javax.sound.sampled._
      val codec = new WavCodec
      rows.map { r =>
        val id = r.getLong(0)
        val n = (id % 50).toInt + 20
        val sr = 8000 + (id % 4).toInt * 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val in = codec.decode(codec.encode(ais))
        val decoded = in.readAllBytes()
        val m = decoded.length / 2
        def sample(j: Int): Int = {
          val lo = decoded(2 * j) & 0xff
          (decoded(2 * j + 1).toInt << 8) | lo
        }
        val outN = m / 2
        var sum = 0L
        var sumsq = 0L
        var k = 0
        while (k < outN) {
          val v = (sample(2 * k) + sample(2 * k + 1)) / 2
          sum += v
          sumsq += v.toLong * v
          k += 1
        }
        Row(id, outN.toLong, sum, sumsq)
      }
    }(enc)
  }

  /** Energy-window segmentation over REAL decoded PCM — the energy gate
    * every voice-activity detector starts from (and the windowing every
    * speech featurizer shares): decode the actual RIFF/WAVE binary, cut
    * the stream into fixed `win`-sample windows (last window ragged), and
    * emit per-window integer energy (sum of squares) plus the gate flag
    * `sumsq ≥ thresholdPerSample·len`. All integers from decoded frames,
    * so the oracle predicts every window from the generator formula while
    * Spark derives it from genuinely parsed audio. One output row per
    * window — long format, map-only, the fixed-rate row explosion a
    * downstream ASR batcher consumes directly.
    */
  def wavEnergyWindows(
      docs: DataFrame,
      win: Int = 16,
      thresholdPerSample: Long = 300000000L): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("win_id", IntegerType, nullable = false),
      StructField("n_in_win", IntegerType, nullable = false),
      StructField("sumsq", LongType, nullable = false),
      StructField("active", IntegerType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"))).mapPartitions { rows =>
      import javax.sound.sampled._
      val codec = new WavCodec
      rows.flatMap { r =>
        val id = r.getLong(0)
        val n = (id % 50).toInt + 20
        val sr = 8000 + (id % 4).toInt * 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val in = codec.decode(codec.encode(ais))
        val decoded = in.readAllBytes()
        val m = decoded.length / 2
        def sample(j: Int): Int = {
          val lo = decoded(2 * j) & 0xff
          (decoded(2 * j + 1).toInt << 8) | lo
        }
        (0 until (m + win - 1) / win).iterator.map { w =>
          val start = w * win
          val end = math.min(start + win, m)
          var sumsq = 0L
          var j = start
          while (j < end) { val v = sample(j); sumsq += v.toLong * v; j += 1 }
          val len = end - start
          val active = if (sumsq >= thresholdPerSample * len) 1 else 0
          Row(id, w, len, sumsq, active)
        }
      }
    }(enc)
  }

  /** Zero-crossing rate over REAL decoded PCM — the classic cheap
    * voiced/unvoiced + noisiness feature (high ZCR = fricatives/noise,
    * low = voiced speech/tones) every audio-curation pass computes
    * alongside energy: decode the actual RIFF/WAVE binary and count sign
    * alternations between consecutive samples (zero counts as
    * non-negative), emitting the exact ppm rate over the n−1 sample
    * pairs. Map-only over per-partition codec handles, one row per
    * asset; the oracle replays the PCM generator formula while Spark
    * derives the count from genuinely parsed audio.
    */
  def audioZeroCrossingRate(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("n_cross", LongType, nullable = false),
      StructField("zcr_ppm", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"))).mapPartitions { rows =>
      import javax.sound.sampled._
      val codec = new WavCodec
      rows.map { r =>
        val id = r.getLong(0)
        val n = (id % 50).toInt + 20
        val sr = 8000 + (id % 4).toInt * 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val in = codec.decode(codec.encode(ais))
        val decoded = in.readAllBytes()
        val m = decoded.length / 2
        def sample(j: Int): Int = {
          val lo = decoded(2 * j) & 0xff
          (decoded(2 * j + 1).toInt << 8) | lo
        }
        var cross = 0L
        var j = 1
        while (j < m) {
          if ((sample(j - 1) < 0) != (sample(j) < 0)) cross += 1
          j += 1
        }
        val zcr = if (m > 1) cross * 1000000L / (m - 1) else 0L
        Row(id, m.toLong, cross, zcr)
      }
    }(enc)
  }

  /** Image NEAR-DUPLICATE detection via a perceptual average-hash (aHash)
    * over REAL decoded pixels — the image-dedup pass a multimodal training
    * pipeline runs so one meme reposted at 40 crops/recompressions counts
    * once. Per row, a deterministic gradient image (base gray `(id%8)*4`,
    * x-slope `id%3`, y-slope `(id/3)%3`, dims as in [[pngRoundTripMeta]] —
    * all values < 256, no wraparound) is encoded to real PNG bytes and
    * DECODED back with `ImageIO.read`; the signature samples the decoded
    * raster on the standard 8×8 nearest-neighbor grid and sets bit j iff
    * `64·sample_j > Σsamples` — the integer cross-multiplied form of
    * "above the mean", so no float enters the hash and a SQL oracle can
    * predict every bit from the generator formula while Spark computes it
    * from actual `getRGB` reads.
    *
    * Dedup then reuses the exact-dedup shape on the 64-bit signature
    * string: one shuffle on `phash`, min doc_id as the group
    * representative. Images with the same gradient direction collapse into
    * one group regardless of base brightness (the mean-comparison cancels
    * the base — the invariance aHash is built for). Codec work is map-only
    * `mapPartitions`; nothing but the 64-char signature leaves the task.
    */
  def imagePerceptualHashes(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("phash", StringType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val codec = new Codec("png")
      disposeAtTaskEnd(() => codec.dispose())
      rows.map { r =>
        val id = r.getLong(0)
        val w = (r.getLong(1) % 31).toInt + 1
        val h = (id % 17).toInt + 1
        val g0 = ((id % 8) * 4).toInt
        val sx = (id % 3).toInt
        val sy = ((id / 3) % 3).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = g0 + sx * x + sy * y // bounded: 28 + 2*30 + 2*16 < 256
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val decoded = codec.decode(codec.encode(img))
        // 8x8 nearest-neighbor grid over the DECODED raster
        val samples = Array.tabulate(64) { j =>
          val px = (j % 8) * decoded.getWidth / 8
          val py = (j / 8) * decoded.getHeight / 8
          (decoded.getRGB(px, py) >> 16) & 0xff
        }
        val total = samples.sum
        val bits = new StringBuilder(64)
        samples.foreach(s => bits.append(if (64 * s > total) '1' else '0'))
        Row(id, bits.toString)
      }
    }(enc)
  }

  /** [[imagePerceptualHashes]] + the exact-dedup group step: per image its
    * signature, the group representative (min doc_id sharing the phash) and
    * a dup flag. */
  def imagePhashDedup(docs: DataFrame): DataFrame = {
    val hs = imagePerceptualHashes(docs)
    val reps = hs.groupBy(col("phash")).agg(min(col("doc_id")).as("rep_id"))
    hs.join(reps, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("rep_id"),
        when(col("doc_id") =!= col("rep_id"), 1).otherwise(0).as("is_dup"))
  }

  /** Container-format header parse with PURE codegen'd expressions over
    * the binary payload — the metadata-extraction pass a multimodal ingest
    * runs on billions of stored blobs WITHOUT decoding them (decode costs
    * ms/blob; a header probe costs ns and stays inside whole-stage
    * codegen). The payloads are real PNG bytes from the JDK encoder; the
    * parser is nothing but `substring`/`hex`/`conv` on the binary column,
    * reading the spec-mandated layout (8-byte signature, IHDR first chunk:
    * big-endian width at offset 16, height at 20, bit depth 24, color type
    * 25). The oracle predicts every field from the generator (RGB gray
    * fill → bit depth 8, color type 2), so the encode→expression-parse
    * round trip is hash-checked: a real codec wrote the container and a
    * relational expression read it back.
    */
  def pngHeaderMeta(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val assets = spreadForCodec(docs.select(col("doc_id"), col("n_chars")))
      .mapPartitions { rows =>
        val codec = new Codec("png")
        disposeAtTaskEnd(() => codec.dispose())
        rows.map { r =>
          val id = r.getLong(0)
          val w = (r.getLong(1) % 31).toInt + 1
          val h = (id % 17).toInt + 1
          val g = (id % 256).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          Row(id, codec.encode(img))
        }
      }(enc)
    assets.select(col("asset_id"),
      when(hex(expr("substring(payload, 1, 8)")) === "89504E470D0A1A0A", 1)
        .otherwise(0).as("sig_ok"),
      expr("CAST(conv(hex(substring(payload, 17, 4)), 16, 10) AS BIGINT)")
        .as("width_hdr"),
      expr("CAST(conv(hex(substring(payload, 21, 4)), 16, 10) AS BIGINT)")
        .as("height_hdr"),
      expr("CAST(conv(hex(substring(payload, 25, 1)), 16, 10) AS INT)")
        .as("bit_depth"),
      expr("CAST(conv(hex(substring(payload, 26, 1)), 16, 10) AS INT)")
        .as("color_type"))
  }

  /** REAL image resize over REAL decoded pixels — the thumbnail/patch
    * normalization step of a multimodal ingest (every vision encoder wants
    * a fixed max side). Per row the [[imagePerceptualHashes]] gradient
    * image round-trips through the actual PNG codec, then an explicit
    * nearest-neighbor kernel (src = `i·w / ow` integer division — the
    * textbook NN map, written out so its arithmetic is auditable rather
    * than delegated to an implementation-defined `Graphics2D` filter)
    * produces the aspect-preserving `maxSide`-bounded raster. The output is
    * what only the real pipeline can know: the resized dimensions plus the
    * exact integer sum of the resized gray raster, which the oracle
    * predicts from the generator formula while Spark computes it from
    * actual decoded `getRGB` reads. Map-only `mapPartitions`, one codec
    * per task, only four scalars leave the task.
    */
  def resizeRealMeta(docs: DataFrame, maxSide: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("out_w", IntegerType, nullable = false),
      StructField("out_h", IntegerType, nullable = false),
      StructField("gray_sum", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val codec = new Codec("png")
      disposeAtTaskEnd(() => codec.dispose())
      rows.map { r =>
        val id = r.getLong(0)
        val w = (r.getLong(1) % 31).toInt + 1
        val h = (id % 17).toInt + 1
        val g0 = ((id % 8) * 4).toInt
        val sx = (id % 3).toInt
        val sy = ((id / 3) % 3).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = g0 + sx * x + sy * y // bounded < 256, see phash
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val decoded = codec.decode(codec.encode(img))
        val m = math.max(w, h)
        val ow = if (m <= maxSide) w else math.max(1, w * maxSide / m)
        val oh = if (m <= maxSide) h else math.max(1, h * maxSide / m)
        var sum = 0L
        var j = 0
        while (j < oh) {
          val py = j * decoded.getHeight / oh
          var i = 0
          while (i < ow) {
            val px = i * decoded.getWidth / ow
            sum += (decoded.getRGB(px, py) >> 16) & 0xff
            i += 1
          }
          j += 1
        }
        Row(id, ow, oh, sum)
      }
    }(enc)
  }

  /** Sobel gradient-energy features over REAL decoded PNG pixels — the
    * classic edge/texture screen an image-ingest pipeline runs to drop
    * flat or synthetic frames before paying for a model forward pass:
    * the 3×3 Sobel pair (Gx, Gy) convolved over the interior of the
    * decoded grayscale image, emitting integer gradient sums, the
    * squared-gradient energy, and the count of pixels whose |Gx|+|Gy|
    * clears an edge threshold. The stored payload is the same
    * deterministic linear-ramp image as [[resizeRealMeta]]
    * (g = g0 + sx·x + sy·y), for which Sobel responds EXACTLY 8·sx / 8·sy
    * at every interior pixel — so the oracle states closed-form totals
    * while Spark computes them from a genuine PNG decode plus an explicit
    * convolution loop. Map-only; only the fixed-width feature row leaves
    * the task.
    */
  def sobelEnergyMeta(docs: DataFrame, edgeThreshold: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_interior", LongType, nullable = false),
      StructField("sum_gx", LongType, nullable = false),
      StructField("sum_gy", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("n_edge", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val codec = new Codec("png")
      disposeAtTaskEnd(() => codec.dispose())
      rows.map { r =>
        val id = r.getLong(0)
        val w = (r.getLong(1) % 31).toInt + 1
        val h = (id % 17).toInt + 1
        val g0 = ((id % 8) * 4).toInt
        val sx = (id % 3).toInt
        val sy = ((id / 3) % 3).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = g0 + sx * x + sy * y // bounded < 256, see phash
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val d = codec.decode(codec.encode(img))
        def gray(x: Int, y: Int): Int = (d.getRGB(x, y) >> 16) & 0xff
        var nInt = 0L; var sgx = 0L; var sgy = 0L; var en = 0L; var ne = 0L
        var yy = 1
        while (yy < h - 1) {
          var xx = 1
          while (xx < w - 1) {
            val gx = gray(xx + 1, yy - 1) - gray(xx - 1, yy - 1) +
              2 * (gray(xx + 1, yy) - gray(xx - 1, yy)) +
              gray(xx + 1, yy + 1) - gray(xx - 1, yy + 1)
            val gy = gray(xx - 1, yy + 1) - gray(xx - 1, yy - 1) +
              2 * (gray(xx, yy + 1) - gray(xx, yy - 1)) +
              gray(xx + 1, yy + 1) - gray(xx + 1, yy - 1)
            nInt += 1
            sgx += gx
            sgy += gy
            en += gx.toLong * gx + gy.toLong * gy
            if (math.abs(gx) + math.abs(gy) >= edgeThreshold) ne += 1
            xx += 1
          }
          yy += 1
        }
        Row(id, nInt, sgx, sgy, en, ne)
      }
    }(enc)
  }

  /** Haar wavelet band energies over REAL decoded PCM — the cheapest
    * time-frequency split an audio ingest runs before any learned
    * featurizer (integer-exact, unlike an FFT): two cascade levels of the
    * Haar pair a_k = (s_2k + s_2k+1)/2, d_k = (s_2k − s_2k+1)/2 under
    * TRUNCATING division (Java `/` = DuckDB `//`, both truncate toward
    * zero — the floorDiv trap is documented on [[wavDecimateMeta]]),
    * emitting per-asset detail energies for both levels plus the level-2
    * approximation energy — the band-energy fingerprint that separates
    * hiss from tone from silence. Decode is the same real RIFF/WAVE
    * codec path as [[wavRoundTripMeta]]; the oracle predicts every band
    * from the generator formula.
    */
  def wavHaarBands(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n1", LongType, nullable = false),
      StructField("e_d1", LongType, nullable = false),
      StructField("n2", LongType, nullable = false),
      StructField("e_d2", LongType, nullable = false),
      StructField("e_a2", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"))).mapPartitions { rows =>
      import javax.sound.sampled._
      val codec = new WavCodec
      rows.map { r =>
        val id = r.getLong(0)
        val n = (id % 50).toInt + 20
        val sr = 8000 + (id % 4).toInt * 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val in = codec.decode(codec.encode(ais))
        val decoded = in.readAllBytes()
        val m = decoded.length / 2
        def sample(j: Int): Int = {
          val lo = decoded(2 * j) & 0xff
          (decoded(2 * j + 1).toInt << 8) | lo
        }
        val m1 = m / 2
        val a1 = new Array[Int](m1)
        var eD1 = 0L
        var k = 0
        while (k < m1) {
          val x = sample(2 * k); val y = sample(2 * k + 1)
          a1(k) = (x + y) / 2
          val d = (x - y) / 2
          eD1 += d.toLong * d
          k += 1
        }
        val m2 = m1 / 2
        var eD2 = 0L
        var eA2 = 0L
        k = 0
        while (k < m2) {
          val x = a1(2 * k); val y = a1(2 * k + 1)
          val a = (x + y) / 2
          val d = (x - y) / 2
          eA2 += a.toLong * a
          eD2 += d.toLong * d
          k += 1
        }
        Row(id, m1.toLong, eD1, m2.toLong, eD2, eA2)
      }
    }(enc)
  }

  /** Multi-frame (animated) GIF round trip — the VIDEO-shaped codec path
    * on the one multi-image container the JDK ships: per row, `k`
    * deterministic solid-gray frames are written into ONE real animated
    * GIF payload with `prepareWriteSequence`/`writeToSequence` (actual
    * GIF89a bytes with per-frame image descriptors), then the container
    * is decoded back frame by frame (`getNumImages(true)` forces a real
    * stream scan) and per-frame pixel reads aggregate. This is the
    * frame-extraction plumbing a video ingest needs — container scan,
    * frame count, per-frame decode, frame-level features — exercised on
    * a codec that is genuinely present, while the MP4/MKV tier stays
    * declared stubs. Solid gray survives GIF's palette exactly (see
    * [[losslessRoundTripMeta]]), so every emitted integer is
    * generator-predictable.
    */
  def gifFramesMeta(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("gray0_sum", LongType, nullable = false),
      StructField("gray_last", IntegerType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      disposeAtTaskEnd(() => { writer.dispose(); reader.dispose() })
      rows.map { r =>
        val id = r.getLong(0)
        val k = (id % 4).toInt + 2
        val w = (r.getLong(1) % 15).toInt + 1
        val h = (id % 9).toInt + 1
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < k) {
            val g = ((id + 37L * f) % 256).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (g << 16) | (g << 8) | g
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.flush()
        } finally ios.close()
        val payload = bos.toByteArray // the real stored animated GIF
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          var sum = 0L
          var last = 0
          var i = 0
          while (i < n) {
            val d = reader.read(i)
            val g = (d.getRGB(0, 0) >> 16) & 0xff
            sum += g
            last = g
            i += 1
          }
          Row(id, n, reader.getWidth(0), reader.getHeight(0), sum, last)
        } finally iis.close()
      }
    }(enc)
  }

  /** Per-frame gray levels decoded from the same REAL animated GIF
    * payloads as [[gifFramesMeta]] — the long-format frame feature stream
    * a shot-boundary detector consumes. One row per (asset, frame) read
    * back from actual GIF89a bytes, so a broken container scan or frame
    * decode shifts the values (generator-predictable: frame f of asset id
    * is the solid gray (id + 37·f) mod 256).
    */
  def gifFrameGrays(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("gray", IntegerType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      disposeAtTaskEnd(() => { writer.dispose(); reader.dispose() })
      rows.flatMap { r =>
        val id = r.getLong(0)
        val k = (id % 4).toInt + 2
        val w = (r.getLong(1) % 15).toInt + 1
        val h = (id % 9).toInt + 1
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < k) {
            val g = ((id + 37L * f) % 256).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (g << 16) | (g << 8) | g
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.flush()
        } finally ios.close()
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          (0 until n).map { i =>
            Row(id, i, (reader.read(i).getRGB(0, 0) >> 16) & 0xff)
          }
        } finally iis.close()
      }
    }(enc)
  }

  /** REAL JPEG decode — same `javax.imageio` path as [[pngRoundTripMeta]]
    * (the JDK ships JPEG, GIF and BMP codecs alongside PNG; the stub tier
    * is only for codecs it does not ship, e.g. JPEG2000/video/audio). The
    * same deterministic gray image is encoded to real JFIF bytes and
    * decoded back. JPEG is LOSSY, so unlike the PNG key the pixel read is
    * not bit-predictable: the codec-parsed dimensions are exact-oracled,
    * and the gray round-trip is oracled as a tolerance flag — for a
    * solid-color image the DC-only quantization error is ≤1-2 levels, so
    * `gray_err_le3 = 1` is an invariant of any conformant JPEG codec.
    */
  def jpegRoundTripMeta(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("gray_err_le3", IntegerType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    spreadForCodec(docs.select(col("doc_id"), col("n_chars"))).mapPartitions { rows =>
      val codec = new Codec("jpg")
      disposeAtTaskEnd(() => codec.dispose())
      rows.map { r =>
        val id = r.getLong(0)
        val w = (r.getLong(1) % 31).toInt + 1
        val h = (id % 17).toInt + 1
        val g = (id % 256).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (g << 16) | (g << 8) | g
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val decoded = codec.decode(codec.encode(img))
        val gray = (decoded.getRGB(0, 0) >> 16) & 0xff
        Row(id, decoded.getWidth, decoded.getHeight,
          if (math.abs(gray - g) <= 3) 1 else 0)
      }
    }(enc)
  }

  /** Resize shape over decoded metadata: target dimensions preserving
    * aspect ratio with the long side capped at `maxSide` (integer-floor
    * arithmetic — deterministic in any engine). The pixel resample itself
    * would run in the partition decoder; this computes the plan every
    * resize needs.
    */
  def resizeDims(meta: DataFrame, maxSide: Int = 224): DataFrame =
    meta.select(col("asset_id"), col("width"), col("height"),
      when(greatest(col("width"), col("height")) <= maxSide, col("width"))
        .otherwise(floor(col("width") * maxSide /
          greatest(col("width"), col("height"))).cast("int"))
        .as("out_w"),
      when(greatest(col("width"), col("height")) <= maxSide, col("height"))
        .otherwise(floor(col("height") * maxSide /
          greatest(col("width"), col("height"))).cast("int"))
        .as("out_h"))

  /** Feature extraction over raw payload bytes — a 16-bucket byte
    * histogram in long form (asset_id, bucket, n). Real (not stubbed):
    * byte-level features need no media library, and the shape (explode →
    * groupBy on (id, bucket)) is exactly a per-asset feature aggregation
    * at scale.
    */
  def byteHistogram(assets: DataFrame, nBuckets: Int = 16): DataFrame =
    assets
      .repartition(col("asset_id"))
      .select(col("asset_id"),
        slice(split(col("payload").cast("string"), ""), lit(1),
          length(col("payload").cast("string"))).as("cs"))
      .select(col("asset_id"),
        explode(expr(s"transform(cs, c -> ascii(c) % $nBuckets)")).as("bucket"))
      .groupBy(col("asset_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Frame-sampling shape: explode `nFrames` evenly spaced offsets per
    * asset — the distributed fan-out a video pipeline needs (decode happens
    * downstream per frame row).
    */
  def sampleFrameOffsets(assets: DataFrame, nFrames: Int): DataFrame =
    assets.select(col("asset_id"),
      explode(sequence(lit(0), lit(nFrames - 1))).as("frame_idx"))
}
