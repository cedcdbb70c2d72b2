package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline: image/audio/video payloads ride through the
  * engine as opaque BINARY columns with typed metadata (the reference's
  * FileEntry model — name + MIME content type + bytes,
  * `/root/reference/docs/draft.md:84-94, 187-195`), and decode / feature
  * extraction runs as a per-partition batch transform.
  *
  * ── CODEC BOUNDARY ──
  * Images go through a REAL header-only decode: [[decodeImage]] uses
  * javax.imageio (ships in the JDK — PNG/JPEG/BMP/GIF/WBMP) to read
  * dimensions and band count without materializing pixels. WAV audio goes
  * through a REAL RIFF header parse: [[decodeWav]] reads sample rate /
  * channels / bit depth / duration from the `fmt `+`data` chunk headers.
  * Other audio/video payloads — no codecs in this container — fall to
  * [[decodeStub]], a
  * clearly-marked deterministic fake deriving "decoded" fields purely from
  * the payload bytes. Swap the stub for ffmpeg JNI without touching any of
  * the Spark plumbing — schema, batching, partitioning and the shardpack
  * round-trip are all real and tested (MultimodalSpec).
  *
  * Scale notes: decode runs inside `mapPartitions` (the genuine fit for
  * opaque-binary batch work — no Catalyst expression could express a codec),
  * so it streams record-by-record with constant memory, parallelizes per
  * shard/partition, and never collects to the driver. Feature rows are
  * narrow (drop the payload as early as possible — `entries.data` pruning in
  * the shardpack scan means a metadata-only pass never even reads pixels).
  */
object Multimodal {

  /** Typed metadata for one decoded media payload. */
  final case class MediaMeta(
      key: String,
      contentType: String,
      nBytes: Int,
      width: Int,
      height: Int,
      nChannels: Int,
      sha: String)

  /** Fixed-size feature vector extracted per payload (stub: byte histogram
    * moments; real impl: CNN embedding / mel spectrogram stats).
    */
  final case class MediaFeatures(key: String, features: Array[Double])

  /** Thread-local ImageIO reader/writer cache — r12 per-task-work
    * optimization (guide §1.2 step 2, §4.5 "initialise heavyweight state
    * once per task"): the media kernels run one codec round-trip PER
    * DOCUMENT, and `ImageIO.read` / `getImageWriters*` construct (and
    * dispose) a fresh reader/writer through an SPI registry scan on every
    * call — measured as a double-digit share of the map-only
    * `build:image/video/audio_hash` stages whose payloads are ~1 KB.
    * Executor task threads are pooled and long-lived, so one
    * reader/writer per (thread, format) amortizes construction across
    * every payload the thread ever decodes; `reset()` in each caller's
    * `finally` restores the instance to its initial state between
    * payloads (readers/writers are stateful but reusable by contract —
    * they are NOT thread-safe, which is exactly what the ThreadLocal
    * guarantees). Decode output is bit-identical: the same JDK codec
    * classes run with the same default params.
    */
  private object Codec {
    private val readers = ThreadLocal.withInitial(
      () => new java.util.HashMap[String, javax.imageio.ImageReader]())
    private val writers = ThreadLocal.withInitial(
      () => new java.util.HashMap[String, javax.imageio.ImageWriter]())

    def reader(fmt: String): javax.imageio.ImageReader = {
      val m = readers.get()
      var r = m.get(fmt)
      if (r == null) {
        r = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
        m.put(fmt, r)
      }
      r
    }

    def writer(fmt: String): javax.imageio.ImageWriter = {
      val m = writers.get()
      var w = m.get(fmt)
      if (w == null) {
        w = javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
        m.put(fmt, w)
      }
      w
    }

    /** Magic-byte sniff for the four formats the engine plants/decodes —
      * "" routes unknown payloads to the generic (per-call probing)
      * ImageIO path, so arbitrary inputs keep exactly the old behavior.
      */
    def sniff(data: Array[Byte]): String =
      if (data.length < 4) ""
      else if (data(0) == 'B' && data(1) == 'M') "bmp"
      else if (data(0) == 'G' && data(1) == 'I' && data(2) == 'F' &&
        data(3) == '8') "gif"
      else if ((data(0) & 0xFF) == 0x89 && data(1) == 'P' && data(2) == 'N' &&
        data(3) == 'G') "png"
      else if ((data(0) & 0xFF) == 0xFF && (data(1) & 0xFF) == 0xD8) "jpeg"
      else ""
  }

  /** STUB header parse — dimensions only, reads the first 4 payload bytes
    * (a real implementation parses JPEG SOF / WAV fmt / MP4 moov, which is
    * likewise O(header), never O(payload)).
    */
  def decodeDimsStub(data: Array[Byte]): (Int, Int, Int) = {
    def b(i: Int): Int = if (data.length > i) data(i) & 0xFF else 0
    (1 + (b(0) << 4 | b(1) >> 4) % 4096,
      1 + (b(1) & 0x0F | b(2) << 4) % 4096,
      1 + b(3) % 4)
  }

  /** STUB decoder — deterministic fake: header dims from
    * [[decodeDimsStub]] plus a full-payload SHA-256 content hash (the one
    * genuinely O(payload) field — only this path pays it).
    */
  def decodeStub(key: String, contentType: String, data: Array[Byte]): MediaMeta = {
    val (w, h, c) = decodeDimsStub(data)
    MediaMeta(
      key = key,
      contentType = contentType,
      nBytes = data.length,
      width = w,
      height = h,
      nChannels = c,
      sha = graft.sources.shardpack.ShardpackFormat.sha256(data)
        .map(x => f"$x%02x").mkString)
  }

  /** REAL image header decode via javax.imageio: (width, height, bands)
    * from the format header only — `ImageReader.getWidth/getHeight/
    * getImageTypes` parse PNG IHDR / JPEG SOF / BMP InfoHeader without
    * decoding pixel data, so this stays O(header) like the stub it
    * replaces. None when no JDK reader claims the payload (corrupt bytes
    * or a codec the JDK lacks) — callers then fall back to the stub.
    */
  def decodeImage(data: Array[Byte]): Option[(Int, Int, Int)] = {
    // payloads are already in-memory: a MemoryCacheImageInputStream avoids
    // the temp-file-per-record that ImageIO's default FileCache stream
    // creates inside the executor hot path
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(data))
    try {
      // r12: thread-cached reader for known formats (see [[Codec]])
      val fmt = Codec.sniff(data)
      val readers =
        if (fmt.isEmpty) javax.imageio.ImageIO.getImageReaders(iis)
        else java.util.Collections.singletonList(Codec.reader(fmt)).iterator()
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          val types = r.getImageTypes(0)
          val bands = if (types.hasNext) types.next().getNumBands else 3
          Some((w, h, bands))
        } finally { if (fmt.isEmpty) r.dispose() else r.reset() }
      }
    } catch {
      case _: Exception => None
    } finally iis.close()
  }

  /** REAL WAV header decode: walks the RIFF chunk list for the `fmt ` and
    * `data` chunks and returns (sampleRate, channels, bitsPerSample,
    * durationMicros). O(header) like the imageio path — chunk headers are
    * skipped by declared size, sample data is never read. None when the
    * payload is not a RIFF/WAVE container or the fmt chunk is malformed.
    */
  def decodeWav(data: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u16(i: Int): Int = (data(i) & 0xFF) | ((data(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
    val isRiffWave = data.length >= 44 &&
      data(0) == 'R' && data(1) == 'I' && data(2) == 'F' && data(3) == 'F' &&
      data(8) == 'W' && data(9) == 'A' && data(10) == 'V' && data(11) == 'E'
    if (!isRiffWave) None
    else {
      var pos = 12L
      var fmt: Option[(Int, Int, Int, Long)] = None // rate, ch, bits, byteRate
      var dataSize = -1L
      while (pos + 8 <= data.length && (fmt.isEmpty || dataSize < 0)) {
        val p = pos.toInt
        val id = new String(data, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = u32(p + 4)
        if (id == "fmt " && size >= 16 && pos + 24 <= data.length) {
          val ch = u16(p + 10)
          val rate = u32(p + 12)
          val byteRate = u32(p + 16)
          val bits = u16(p + 22)
          if (ch > 0 && rate > 0 && rate <= Int.MaxValue)
            fmt = Some((rate.toInt, ch, bits, byteRate))
        } else if (id == "data") dataSize = size
        pos += 8 + size + (size & 1) // RIFF chunks are word-aligned
      }
      fmt.map { case (rate, ch, bits, byteRate) =>
        val durMicros =
          if (byteRate > 0 && dataSize >= 0) dataSize * 1000000L / byteRate else 0L
        (rate, ch, bits, durMicros)
      }
    }
  }

  /** Encode signed 16-bit mono PCM samples as a REAL RIFF/WAVE payload
    * (canonical 44-byte header + little-endian sample data) — the audio
    * twin of [[encodeBmpGray]]/[[encodeGifGray]]: the synthetic stand-in
    * for a crawl's audio payloads, built so the SAMPLE-level round-trip
    * through the JDK's real audio codec ([[decodeWavSamples]]) is
    * hash-provable from the planted samples. Reference content-type
    * catalog names audio explicitly (`/root/reference/docs/draft.md:187-195`).
    */
  def encodeWavPcm16(rate: Int, samples: Array[Int]): Array[Byte] = {
    require(rate > 0, "sample rate must be positive")
    val n = samples.length
    val dataSize = n * 2
    val out = new Array[Byte](44 + dataSize)
    def put4(i: Int, s: String): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = s.charAt(j).toByte; j += 1 }
    }
    def putU32(i: Int, v: Long): Unit = {
      out(i) = (v & 0xFF).toByte; out(i + 1) = ((v >> 8) & 0xFF).toByte
      out(i + 2) = ((v >> 16) & 0xFF).toByte; out(i + 3) = ((v >> 24) & 0xFF).toByte
    }
    def putU16(i: Int, v: Int): Unit = {
      out(i) = (v & 0xFF).toByte; out(i + 1) = ((v >> 8) & 0xFF).toByte
    }
    put4(0, "RIFF"); putU32(4, 36L + dataSize); put4(8, "WAVE")
    put4(12, "fmt "); putU32(16, 16); putU16(20, 1) // PCM
    putU16(22, 1) // mono
    putU32(24, rate.toLong); putU32(28, rate.toLong * 2) // byte rate
    putU16(32, 2) // block align
    putU16(34, 16) // bits per sample
    put4(36, "data"); putU32(40, dataSize.toLong)
    var i = 0
    while (i < n) {
      val s = samples(i)
      out(44 + 2 * i) = (s & 0xFF).toByte
      out(45 + 2 * i) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** REAL sample-level audio decode via the JDK codec
    * (`javax.sound.sampled.AudioSystem` — the audio counterpart of the
    * ImageIO pixel paths): returns (sampleRate, samples) for mono
    * 16-bit signed PCM payloads, None when no JDK provider claims the
    * payload or the format is anything else. Exact: PCM is lossless, so
    * the decoded ints ARE the planted ints — the property the
    * `multimodal_audio_features` oracle leans on.
    */
  def decodeWavSamples(data: Array[Byte]): Option[(Int, Array[Int])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(data))
      try {
        val f = ais.getFormat
        if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16 || f.getChannels != 1) None
        else {
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          val outA = new Array[Int](n)
          val be = f.isBigEndian
          var i = 0
          while (i < n) {
            outA(i) =
              if (be) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xFF)
              else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)
            i += 1
          }
          Some((f.getSampleRate.toInt, outA))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** REAL MP4 (ISO BMFF) header decode: walks the top-level box list for
    * `moov`, then its children for `mvhd` (timescale + duration) and each
    * `trak`'s `tkhd` (16.16 fixed-point presentation width/height — the
    * first trak with a nonzero width is the video track). O(header) like
    * the WAV path: boxes are skipped by their declared size, sample data
    * (`mdat`) is never read. Returns (width, height, nTraks,
    * durationMicros); None when the payload has no parseable moov/mvhd.
    */
  def decodeMp4(data: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u32(i: Int): Long =
      ((data(i) & 0xFFL) << 24) | ((data(i + 1) & 0xFFL) << 16) |
        ((data(i + 2) & 0xFFL) << 8) | (data(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    // walk children of [start, end) via the shared ISO-BMFF iterator
    // ([[bmffBoxes]] — also the demux walk of [[decodeMp4Samples]])
    def boxes(start: Long, end: Long): Iterator[(String, Long, Long)] =
      bmffBoxes(data, start, end)
    try {
      boxes(0, data.length).collectFirst { case ("moov", s, e) =>
        var dims: Option[(Int, Int)] = None
        var nTraks = 0
        var durMicros = 0L
        for ((typ, bs, be) <- boxes(s, e)) typ match {
          case "mvhd" if bs + 4 <= data.length =>
            val v = data(bs.toInt) & 0xFF
            val (ts, dur) =
              if (v == 1 && bs + 32 <= be) (u32(bs.toInt + 20), u64(bs.toInt + 24))
              else if (bs + 24 <= be) (u32(bs.toInt + 12), u32(bs.toInt + 16))
              else (0L, 0L)
            // dur is an attacker-controlled u64: saturate like the WAV
            // path rather than letting the ×1e6 wrap Long negative
            if (ts > 0) durMicros =
              if (dur < 0L || dur > Long.MaxValue / 1000000L) Long.MaxValue
              else dur * 1000000L / ts
          case "trak" =>
            nTraks += 1
            if (dims.isEmpty)
              dims = boxes(bs, be).collectFirst {
                case ("tkhd", ts2, te2) if ts2 + 4 <= data.length =>
                  val v = data(ts2.toInt) & 0xFF
                  val wOff = if (v == 1) 88L else 76L // after version+flags
                  if (ts2 + wOff + 8 <= te2)
                    ((u32((ts2 + wOff).toInt) >> 16).toInt,
                      (u32((ts2 + wOff + 4).toInt) >> 16).toInt)
                  else (0, 0)
              }.filter(_._1 > 0)
          case _ => ()
        }
        (dims.map(_._1).getOrElse(0), dims.map(_._2).getOrElse(0), nTraks, durMicros)
      }
    } catch { case _: Exception => None }
  }

  /** Decode one payload: real imageio header parse for `image/...` content
    * types, real RIFF header parse for `audio/...` WAV payloads (for audio,
    * `width` carries the sample rate and `height` the duration in millis —
    * the closest MediaMeta analog of pixel dims), real RIFF walk for
    * `video/...` AVI payloads (dims + frame count from avih) falling back
    * to the real ISO-BMFF box parse
    * for MP4 payloads (pixel dims from the video trak's tkhd,
    * `nChannels` carries the track count), stub for everything else and
    * for payloads no real parser recognizes. The SHA-256 content hash is
    * computed either way.
    */
  def decode(key: String, contentType: String, data: Array[Byte]): MediaMeta = {
    def sha = graft.sources.shardpack.ShardpackFormat.sha256(data)
      .map(x => f"$x%02x").mkString
    if (contentType != null && contentType.startsWith("image/"))
      decodeImage(data) match {
        case Some((w, h, c)) => MediaMeta(key, contentType, data.length, w, h, c, sha)
        case None            => decodeStub(key, contentType, data)
      }
    else if (contentType != null && contentType.startsWith("audio/"))
      decodeWav(data) match {
        case Some((rate, ch, _, durMicros)) =>
          MediaMeta(key, contentType, data.length,
            // saturate: a crafted byteRate=1 header can declare a duration
            // past Int range; wrap would put a negative ms in MediaMeta
            width = rate,
            height = math.min(durMicros / 1000L, Int.MaxValue.toLong).toInt,
            nChannels = ch, sha = sha)
        case None => decodeStub(key, contentType, data)
      }
    else if (contentType != null && contentType.startsWith("video/"))
      // container sniff order: AVI (RIFF magic, cheap reject) then MP4;
      // for AVI `nChannels` carries the frame count — the closest
      // MediaMeta analog of MP4's track count
      decodeAviMeta(data) match {
        case Some((w, h, n, _, _)) =>
          MediaMeta(key, contentType, data.length,
            width = w, height = h, nChannels = n, sha = sha)
        case None => decodeMp4(data) match {
          case Some((w, h, nTraks, _)) =>
            MediaMeta(key, contentType, data.length,
              width = w, height = h, nChannels = nTraks, sha = sha)
          case None => decodeStub(key, contentType, data)
        }
      }
    else if (contentType == "application/x-npy")
      // real tensor-header parse (the reference's recommended annotation
      // type): width/height carry the first two dims, nChannels the
      // element width in bytes
      decodeNpyHeader(data) match {
        case Some((descr, shape, _)) =>
          val elemBytes = descr.drop(2).toIntOption.getOrElse(0)
          MediaMeta(key, contentType, data.length,
            width = shape.headOption.getOrElse(1),
            height = if (shape.length > 1) shape(1) else 1,
            nChannels = elemBytes, sha = sha)
        case None => decodeStub(key, contentType, data)
      }
    else decodeStub(key, contentType, data)
  }

  // ────────────────────── real pixel decode + perceptual hash ──────────
  // The multimodal twin of dedup_minhash: decode pixels (JDK ImageIO —
  // deterministic for uncompressed BMP and lossless PNG), reduce to an
  // 8×8 perceptual hash, and band-join the 64-bit hashes for near-dup
  // candidates. Everything below is exact integer arithmetic so a planted
  // pixel matrix round-trips bit-identically and a SQL oracle can replay
  // the hash from the pixel values directly.

  /** Encode a row-major TOP-DOWN grayscale matrix (`gray(y*w+x)` ∈
    * 0..255) as an uncompressed 24-bit BMP (B=G=R=v). BMPs store rows
    * bottom-up with 4-byte row padding; [[decodeGrayPixels]] of the
    * result returns `gray` exactly — the determinism anchor the
    * dedup_image oracle leans on (pixels ARE the planted bytes, so
    * DuckDB can hash the derivation while Spark hashes the decode).
    */
  def encodeBmpGray(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && gray.length == w * h, "dims must match payload")
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    def p16(i: Int, v: Int): Unit = {
      out(i) = (v & 0xFF).toByte; out(i + 1) = ((v >> 8) & 0xFF).toByte
    }
    def p32(i: Int, v: Int): Unit = { p16(i, v & 0xFFFF); p16(i + 2, v >>> 16) }
    out(0) = 'B'; out(1) = 'M'
    p32(2, 54 + dataSize); p32(10, 54) // file size, pixel offset
    p32(14, 40); p32(18, w); p32(22, h) // InfoHeader, positive h = bottom-up
    p16(26, 1); p16(28, 24) // planes, bpp
    p32(34, dataSize)
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * rowSize // bottom-up storage
      var x = 0
      while (x < w) {
        val v = (gray(y * w + x) & 0xFF).toByte
        val o = rowOff + x * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** FULL pixel decode via ImageIO (BMP/PNG/GIF/JPEG — deterministic for
    * the uncompressed/lossless formats): top-down row-major grayscale,
    * `v = (r + g + b) / 3` integer mean (equal channels, as
    * [[encodeBmpGray]] plants, return exactly v). None when no JDK codec
    * claims the payload.
    */
  def decodeGrayPixels(data: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      // explicit memory-cache stream: ImageIO.read(InputStream) wraps in
      // a FileCache stream by default — a temp file created and deleted
      // PER PAYLOAD, which dominated the sf10 image build (500k docs ×
      // 32 threads hammering /tmp); same fix as the decodeImage header path.
      // r12: known formats decode through the thread-cached reader
      // ([[Codec]]) instead of a fresh SPI scan + reader per payload.
      val fmt = Codec.sniff(data)
      val img =
        if (fmt.isEmpty)
          javax.imageio.ImageIO.read(
            new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(data)))
        else {
          val r = Codec.reader(fmt)
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(data))
          try {
            r.setInput(iis, true, true)
            r.read(0)
          } finally { r.reset(); iis.close() }
        }
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val cm = img.getColorModel
        val gray = new Array[Int](w * h)
        if (!cm.isInstanceOf[java.awt.image.IndexColorModel] &&
          cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY &&
          img.getRaster.getNumBands == 1 && cm.getComponentSize(0) == 8) {
          // single-band 8-bit gray (e.g. the reader normalized an
          // identity-gray-palette DIB/BMP to TYPE_BYTE_GRAY): the raster
          // sample IS the stored gray value. getRGB here would run the
          // LINEAR-gray → sRGB color-space conversion (TYPE_BYTE_GRAY's
          // space is linear) and silently distort every non-extreme value
          // (50 → 122) — the samples are the exact planted bytes.
          img.getRaster.getSamples(0, 0, w, h, 0, gray)
        } else {
          // one bulk getRGB: identical packed-RGB values to the per-pixel
          // call, minus w·h Java2D dispatch+conversion round-trips (the
          // per-pixel loop was the measured CPU of the map-only image build
          // once the histogram moved into the row-local kernel). Indexed
          // images MUST take this path — their raster samples are palette
          // indices, not gray values.
          val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
          var i = 0
          while (i < rgbs.length) {
            val rgb = rgbs(i)
            gray(i) = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
            i += 1
          }
        }
        Some((w, h, gray))
      }
    } catch { case _: Exception => None }

  /** 8×8 average hash of a grayscale matrix, exact integer arithmetic:
    * nearest-neighbor sample `(x·w)/8, (y·h)/8` (the [[resizeStub]] index
    * map), mean = floor(Σ/64), bit `y*8+x` set iff sample > mean. Bit 63
    * can be set, so consumers compare with XOR+bit_count (sign-safe), not
    * arithmetic.
    */
  def aHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val s = new Array[Int](64)
    var i = 0
    var sum = 0L
    while (i < 64) {
      val x = i % 8; val y = i / 8
      s(i) = gray((y * h / 8) * w + (x * w / 8))
      sum += s(i)
      i += 1
    }
    val mean = sum / 64
    var hash = 0L
    i = 0
    while (i < 64) { if (s(i) > mean) hash |= 1L << i; i += 1 }
    hash
  }

  /** 8×9-grid difference hash: bit `y*8+x` set iff sample(x+1,y) >
    * sample(x,y) over a 9-column nearest-neighbor grid — gradient-based,
    * robust to global brightness shifts where [[aHash64]] is robust to
    * local noise. Same exact-integer contract.
    */
  def dHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val s = Array.tabulate(72) { i => // 9 cols × 8 rows
      val x = i % 9; val y = i / 9
      gray((y * h / 8) * w + (x * w / 9))
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      val x = i % 8; val y = i / 8
      if (s(y * 9 + x + 1) > s(y * 9 + x)) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Decode → aHash in one pass: the per-payload kernel behind
    * `dedup_image`. None when the payload has no JDK-decodable pixels.
    */
  def imageAHash(data: Array[Byte]): Option[Long] =
    decodeGrayPixels(data).map { case (w, h, g) => aHash64(w, h, g) }

  // ────────────────────── real multi-frame (video) decode ──────────────
  // The video half of the pixel pipeline: GIF is the one multi-frame
  // container the JDK can both WRITE and READ deterministically (indexed
  // color, lossless LZW), so frame-level near-dup runs on real codec
  // round-trips with no JNI. encodeGifGray → decodeGifFrames is
  // pixel-exact (MultimodalSpec pins it), which is what lets the
  // dedup_video oracle replay the per-frame hash arithmetic from the
  // planted matrices — the same decoder-proof contract as dedup_image.

  /** Encode top-down grayscale frames (all `w×h`, values 0..255) as a
    * multi-frame GIF via the JDK's ImageIO GIF writer with an explicit
    * 256-gray indexed palette — lossless, so [[decodeGifFrames]] returns
    * the planted matrices exactly.
    */
  def encodeGifGray(w: Int, h: Int, frames: Seq[Array[Int]]): Array[Byte] = {
    require(w > 0 && h > 0 && frames.nonEmpty &&
      frames.forall(_.length == w * h), "dims must match every frame")
    val bos = new java.io.ByteArrayOutputStream()
    // r12: thread-cached writer (one SPI scan per thread, not per payload)
    // and ONE BufferedImage reused across the frames of a call —
    // writeToSequence encodes synchronously, so mutating the raster
    // between frames is safe. Same writer class, same stream, same bytes.
    val wr = Codec.writer("gif")
    // memory-cache output stream: createImageOutputStream defaults to a
    // FileCache stream — one temp file per encoded payload (see
    // decodeGrayPixels); the payloads are hundreds of bytes
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, GrayIndexCm)
      // with the identity gray LUT the palette index IS the gray value:
      // fill the byte raster directly instead of w·h setSample dispatches
      val buf = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      frames.foreach { g =>
        var i = 0
        while (i < buf.length) { buf(i) = (g(i) & 0xFF).toByte; i += 1 }
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      wr.endWriteSequence()
    } finally { wr.reset(); ios.close() }
    bos.toByteArray
  }

  /** The identity 256-gray palette every GIF encode uses — immutable,
    * shared (was rebuilt per payload).
    */
  private val GrayIndexCm: java.awt.image.IndexColorModel = {
    val lut = Array.tabulate[Byte](256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, lut, lut, lut)
  }

  /** FULL multi-frame pixel decode via ImageIO: every frame of the
    * payload as a top-down grayscale matrix (integer channel mean, like
    * [[decodeGrayPixels]]). Single-frame formats return one frame; Nil
    * when no JDK reader claims the payload. Frames are read as stored
    * rasters (our GIF frames are full-size, so no composition state).
    */
  def decodeGifFrames(data: Array[Byte]): Seq[(Int, Int, Array[Int])] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(data))
    try {
      // r12: known formats reuse the thread-cached reader (reset between
      // payloads); unknown payloads keep the per-call SPI probe + dispose
      val fmt = Codec.sniff(data)
      val readers =
        if (fmt.isEmpty) javax.imageio.ImageIO.getImageReaders(iis)
        else java.util.Collections.singletonList(Codec.reader(fmt)).iterator()
      if (!readers.hasNext) Nil
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val n = r.getNumImages(true)
          (0 until n).map { f =>
            val img = r.read(f)
            val w = img.getWidth; val h = img.getHeight
            // bulk getRGB — same values as the per-pixel call, one
            // dispatch per frame instead of w·h (see decodeGrayPixels)
            val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
            val gray = new Array[Int](w * h)
            var i = 0
            while (i < rgbs.length) {
              val rgb = rgbs(i)
              gray(i) =
                (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
              i += 1
            }
            (w, h, gray)
          }
        } finally { if (fmt.isEmpty) r.dispose() else r.reset() }
      }
    } catch { case _: Exception => Nil } finally iis.close()
  }

  /** Decode → per-frame (aHash64, dHash64) fingerprints in one pass: the
    * per-payload kernel behind `dedup_video`. Both hashes per frame — the
    * average hash is robust to local noise, the gradient hash to global
    * brightness shifts; frames match only when BOTH agree.
    */
  def videoFrameHashes(data: Array[Byte]): Seq[(Long, Long)] =
    decodeGifFrames(data).map { case (w, h, g) => (aHash64(w, h, g), dHash64(w, h, g)) }

  /** 64-bit audio fingerprint over PCM samples — the audio member of the
    * perceptual-hash family (aHash's shape applied to the time axis):
    * the signal splits into 64 positional windows (sample i lands in
    * window `(i·64)/n`, integer division — near-equal spans, replayable
    * in SQL), each window's energy is Σ|amplitude|, and bit j is set
    * when window j's energy exceeds the floor mean of all 64. Empty
    * windows (n < 64) carry energy 0, exactly as the oracle's grid join
    * renders them. Energy stays in int64: n ≤ 10⁴ samples × 2¹⁵ ≈ 3×10⁸
    * per window.
    */
  def audioFingerprint64(samples: Array[Int]): Long = {
    val n = samples.length
    if (n == 0) return 0L
    val e = new Array[Long](64)
    var i = 0
    while (i < n) {
      e(((i.toLong * 64) / n).toInt) += math.abs(samples(i).toLong)
      i += 1
    }
    var sum = 0L
    var j = 0
    while (j < 64) { sum += e(j); j += 1 }
    val m = sum / 64
    var h = 0L
    j = 0
    while (j < 64) { if (e(j) > m) h |= (1L << j); j += 1 }
    h
  }

  /** Frame-level video features over the REAL codec round-trip: GIF
    * encode → ImageIO multi-frame decode → per-frame floor mean, total
    * temporal motion Σ_f Σ_p |px_{f+1} − px_f| (the adjacent-frame pixel
    * delta — the scene-change statistic), and the global 8-bucket
    * intensity histogram over every decoded frame. The GIF grayscale
    * round-trip is exact (256-gray palette), so all three are replayable
    * integers from the planted frames.
    */
  def videoFeatures(w: Int, h: Int, frames: Seq[Array[Int]]): (Seq[Long], Long, Seq[Long]) = {
    val gif = encodeGifGray(w, h, frames)
    val dec = decodeGifFrames(gif)
    require(dec.length == frames.length, "GIF frame round-trip failed")
    val px = dec.map(_._3)
    val cells = w * h
    val means = px.map { p =>
      var s = 0L; var i = 0
      while (i < cells) { s += p(i); i += 1 }
      s / cells
    }
    var motion = 0L
    var f = 0
    while (f < px.length - 1) {
      var i = 0
      while (i < cells) { motion += math.abs(px(f + 1)(i) - px(f)(i)).toLong; i += 1 }
      f += 1
    }
    val hist = new Array[Long](8)
    f = 0
    while (f < px.length) {
      var i = 0
      while (i < cells) { hist(px(f)(i) >> 5) += 1L; i += 1 }
      f += 1
    }
    (means, motion, hist.toSeq)
  }

  // ────────────────────── real AVI (RIFF) video container ──────────────
  // The second real video container beside GIF: AVI with uncompressed
  // 8-bit DIB frames ('DIB ' fourcc — the Video-for-Windows uncompressed
  // codec), the one video container whose frame payloads are lossless AND
  // whose per-frame pixel decode can route through a REAL JDK codec: each
  // '00db' chunk is a DIB bitmap, so prepending a 14-byte BITMAPFILEHEADER
  // to (strf InfoHeader + palette + frame bytes) yields a standalone BMP
  // that ImageIO decodes. Container walk = our RIFF parser (the same
  // chunk-list discipline as [[decodeWav]] — container formats are the
  // reference's own domain, `docs/draft.md:35-51`); pixel decode = the
  // JDK's BMP reader. Unlike the GIF path, AVI carries real TIMING
  // metadata (µs/frame in avih, rate/scale in strh) — the fps/duration
  // fields `multimodal_meta`'s MP4 path reads from mvhd exist here for a
  // frame-exact container. Everything is byte-exact, so planted matrices
  // round-trip bit-identically and the oracle replays from the plant.

  /** Encode top-down grayscale frames (all `w×h`, values 0..255) as an
    * AVI with uncompressed 8-bit DIB frames and an identity 256-gray
    * palette. Layout: RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh
    * 'vids'/'DIB ', strf BITMAPINFOHEADER+palette}} → LIST(movi){'00db'×n}.
    * Rows are stored bottom-up, padded to 4 bytes (DIB convention);
    * [[decodeAviFrames]] of the result returns the planted matrices
    * exactly (MultimodalSpec pins the round-trip).
    */
  def encodeAviGray(w: Int, h: Int, fps: Int, frames: Seq[Array[Int]]): Array[Byte] = {
    require(w > 0 && h > 0 && fps > 0 && frames.nonEmpty &&
      frames.forall(_.length == w * h), "dims must match every frame")
    val rowSize = (w + 3) / 4 * 4 // 8-bit pixels, 4-byte row padding
    val frameBytes = rowSize * h
    val n = frames.length
    val strfSize = 40 + 256 * 4
    // sizes of the LIST payloads (fourcc included, per RIFF convention)
    val strlSize = 4 + (8 + 56) + (8 + strfSize)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + n * (8 + frameBytes)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val out = new Array[Byte](8 + riffSize)
    var p = 0
    def put4(s: String): Unit = {
      var j = 0
      while (j < 4) { out(p + j) = s.charAt(j).toByte; j += 1 }
      p += 4
    }
    def pu32(v: Long): Unit = {
      out(p) = (v & 0xFF).toByte; out(p + 1) = ((v >> 8) & 0xFF).toByte
      out(p + 2) = ((v >> 16) & 0xFF).toByte; out(p + 3) = ((v >> 24) & 0xFF).toByte
      p += 4
    }
    def pu16(v: Int): Unit = {
      out(p) = (v & 0xFF).toByte; out(p + 1) = ((v >> 8) & 0xFF).toByte; p += 2
    }
    put4("RIFF"); pu32(riffSize.toLong); put4("AVI ")
    put4("LIST"); pu32(hdrlSize.toLong); put4("hdrl")
    put4("avih"); pu32(56)
    pu32(1000000L / fps) // dwMicroSecPerFrame
    pu32(fps.toLong * frameBytes) // dwMaxBytesPerSec
    pu32(0) // dwPaddingGranularity
    pu32(0) // dwFlags (no index — movi chunks are walked sequentially)
    pu32(n.toLong) // dwTotalFrames
    pu32(0); pu32(1) // dwInitialFrames, dwStreams
    pu32(frameBytes.toLong) // dwSuggestedBufferSize
    pu32(w.toLong); pu32(h.toLong)
    pu32(0); pu32(0); pu32(0); pu32(0) // dwReserved[4]
    put4("LIST"); pu32(strlSize.toLong); put4("strl")
    put4("strh"); pu32(56)
    put4("vids"); put4("DIB ") // fccType, fccHandler (uncompressed DIB)
    pu32(0); pu16(0); pu16(0) // flags, priority, language
    pu32(0) // initial frames
    pu32(1); pu32(fps.toLong) // dwScale, dwRate → fps = rate/scale
    pu32(0); pu32(n.toLong) // dwStart, dwLength (frames)
    pu32(frameBytes.toLong) // buffer size
    pu32(0xFFFFFFFFL) // quality (default)
    pu32(0) // sample size (0 = one sample per chunk)
    pu16(0); pu16(0); pu16(w); pu16(h) // rcFrame
    put4("strf"); pu32(strfSize.toLong)
    pu32(40); pu32(w.toLong); pu32(h.toLong) // biSize, biWidth, biHeight (+h = bottom-up)
    pu16(1); pu16(8) // biPlanes, biBitCount
    pu32(0) // biCompression = BI_RGB
    pu32(frameBytes.toLong)
    pu32(0); pu32(0) // pixels/meter
    pu32(256); pu32(0) // biClrUsed, biClrImportant
    var c = 0
    while (c < 256) { // identity gray palette: B,G,R,reserved
      out(p) = c.toByte; out(p + 1) = c.toByte; out(p + 2) = c.toByte
      out(p + 3) = 0; p += 4; c += 1
    }
    put4("LIST"); pu32(moviSize.toLong); put4("movi")
    frames.foreach { g =>
      put4("00db"); pu32(frameBytes.toLong)
      var y = 0
      while (y < h) {
        val rowOff = p + (h - 1 - y) * rowSize // bottom-up
        var x = 0
        while (x < w) { out(rowOff + x) = (g(y * w + x) & 0xFF).toByte; x += 1 }
        y += 1
      }
      p += frameBytes
    }
    require(p == out.length, s"AVI layout arithmetic: wrote $p of ${out.length}")
    out
  }

  /** Walk the children of a RIFF enclosure `[start, end)`: (fourcc,
    * payload start, payload end). LIST chunks report their list type as
    * the fourcc with payload starting past it — callers recurse with the
    * returned bounds. Chunk sizes are padded to even per RIFF.
    */
  private def riffChunks(data: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var pos = start
      def hasNext: Boolean = pos + 8 <= end && pos + 8 <= data.length
      def next(): (String, Int, Int) = {
        def u32(i: Int): Long = (data(i) & 0xFFL) | ((data(i + 1) & 0xFFL) << 8) |
          ((data(i + 2) & 0xFFL) << 16) | ((data(i + 3) & 0xFFL) << 24)
        var typ = new String(data, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        var size = math.min(u32(pos + 4), (end - pos - 8).toLong).toInt
        var body = pos + 8
        pos = body + size + (size & 1) // even padding
        if (typ == "LIST" && size >= 4) { // surface the list type
          typ = new String(data, body, 4, java.nio.charset.StandardCharsets.US_ASCII)
          body += 4; size -= 4
        }
        (typ, body, body + size)
      }
    }

  /** REAL AVI header decode: walks hdrl for `avih` (+`strh` of the first
    * video stream) and returns (width, height, nFrames, usPerFrame,
    * durationMicros). O(header) — movi frame data is skipped by declared
    * size. None when the payload is not a RIFF/AVI container.
    */
  def decodeAviMeta(data: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    def u32(i: Int): Long = (data(i) & 0xFFL) | ((data(i + 1) & 0xFFL) << 8) |
      ((data(i + 2) & 0xFFL) << 16) | ((data(i + 3) & 0xFFL) << 24)
    val isAvi = data.length >= 12 &&
      data(0) == 'R' && data(1) == 'I' && data(2) == 'F' && data(3) == 'F' &&
      data(8) == 'A' && data(9) == 'V' && data(10) == 'I' && data(11) == ' '
    if (!isAvi) return None
    try {
      riffChunks(data, 12, data.length).collectFirst { case ("hdrl", hs, he) =>
        var w = 0; var h = 0; var n = 0; var usPf = 0L
        // u32 fields read as Long, saturated to Int.MaxValue: a crafted
        // dwTotalFrames/dwWidth ≥ 2^31 must clamp, not wrap negative
        // (a negative n would also bypass the duration saturation below)
        def sat(v: Long): Int = math.min(v, Int.MaxValue.toLong).toInt
        for ((typ, bs, be) <- riffChunks(data, hs, he)) typ match {
          case "avih" if be - bs >= 56 =>
            usPf = u32(bs)
            n = sat(u32(bs + 16))
            w = sat(u32(bs + 32)); h = sat(u32(bs + 36))
          case _ => ()
        }
        // duration = frames × µs/frame; saturate crafted headers like the
        // WAV/MP4 paths rather than wrapping Long negative
        val dur = if (usPf > 0 && n > 0 && usPf > Long.MaxValue / n) Long.MaxValue
        else usPf * n
        (w, h, n, usPf, dur)
      }
    } catch { case _: Exception => None }
  }

  /** FULL AVI frame decode: walks movi for '00db'/'00dc' chunks and
    * decodes each DIB frame through the REAL JDK BMP codec — a 14-byte
    * BITMAPFILEHEADER is prepended to (strf header+palette, frame bytes)
    * and the standalone BMP goes through [[decodeGrayPixels]] (ImageIO).
    * Returns top-down grayscale matrices like [[decodeGifFrames]]; Nil
    * when the payload is not AVI or carries no parseable video stream.
    */
  def decodeAviFrames(data: Array[Byte]): Seq[(Int, Int, Array[Int])] = {
    if (decodeAviMeta(data).isEmpty) return Nil
    try {
      // locate the strf blob (InfoHeader + palette) once; every frame
      // shares it
      var strf: Option[(Int, Int)] = None
      var movi: Option[(Int, Int)] = None
      for ((typ, bs, be) <- riffChunks(data, 12, data.length)) typ match {
        case "hdrl" =>
          for ((t2, s2, e2) <- riffChunks(data, bs, be) if t2 == "strl";
               (t3, s3, e3) <- riffChunks(data, s2, e2) if t3 == "strf" && strf.isEmpty)
            strf = Some((s3, e3))
        case "movi" if movi.isEmpty => movi = Some((bs, be))
        case _ => ()
      }
      (strf, movi) match {
        case (Some((fs, fe)), Some((ms, me))) =>
          val hdrLen = fe - fs
          riffChunks(data, ms, me).collect {
            case (typ, bs, be) if typ.endsWith("db") || typ.endsWith("dc") =>
              val frameLen = be - bs
              val bmp = new Array[Byte](14 + hdrLen + frameLen)
              bmp(0) = 'B'; bmp(1) = 'M'
              def p32(i: Int, v: Int): Unit = {
                bmp(i) = (v & 0xFF).toByte; bmp(i + 1) = ((v >> 8) & 0xFF).toByte
                bmp(i + 2) = ((v >> 16) & 0xFF).toByte; bmp(i + 3) = (v >>> 24).toByte
              }
              p32(2, bmp.length) // file size
              p32(10, 14 + hdrLen) // pixel data offset
              System.arraycopy(data, fs, bmp, 14, hdrLen)
              System.arraycopy(data, bs, bmp, 14 + hdrLen, frameLen)
              decodeGrayPixels(bmp)
          }.flatten.toSeq
        case _ => Nil
      }
    } catch { case _: Exception => Nil }
  }

  /** REAL frame sampling for AVI payloads: every k-th decoded frame,
    * k = ceil(total/n), re-encoded as a standalone BMP via
    * [[encodeBmpGray]] — the downstream per-image tools (aHash, feature
    * extraction) consume BMPs directly. Returns Nil for non-AVI payloads;
    * [[frameSample]] is the production dispatcher that falls back to the
    * stub there.
    */
  def frameSampleAvi(data: Array[Byte], n: Int): Seq[Array[Byte]] = {
    require(n > 0, "sample count must be positive")
    val frames = decodeAviFrames(data)
    if (frames.isEmpty) Nil
    else {
      val k = math.max(1, (frames.length + n - 1) / n)
      frames.zipWithIndex.collect {
        case ((w, h, g), i) if i % k == 0 => encodeBmpGray(w, h, g)
      }.take(n)
    }
  }

  // ───────────────── real MP4 (ISO BMFF) MJPEG video ─────────────────
  // The THIRD real video container, and the one that closes the last
  // frame-decode gap: MP4 whose video samples are Motion-JPEG — each
  // sample is a standalone baseline JPEG that the JDK's own ImageIO codec
  // decodes, so MP4 frame decode needs no JNI after all. The container
  // walk reuses [[decodeMp4]]'s box-iterator discipline (ISO/IEC 14496-12
  // is the reference's own container domain, `docs/draft.md:35-51`); the
  // sample demux is the REAL stbl machinery — stsd 'jpeg' sample entry,
  // stts timing, stsc chunk mapping, stsz sizes, stco/co64 offsets — so a
  // wrong stsc expansion or a misplaced chunk offset surfaces as a hash
  // divergence, never a silent skip. JPEG is lossy in general, but FLAT
  // frames (one DC coefficient per 8×8 block, every AC zero) round-trip
  // bit-exact through the JDK codec at its default quality
  // (MultimodalSpec pins all 8 planted gray levels); the planted frames
  // are flat, and the query contract still buckets the decoded mean by 32
  // so ±15 of codec drift can never flip a value.

  /** Shared ISO-BMFF box iterator over `[start, end)`: yields
    * (type, payloadStart, boxEnd). size==1 → 64-bit largesize follows the
    * type; size==0 → box extends to the enclosure end. Malformed sizes
    * stop iteration rather than spin (a declared size < header would
    * otherwise loop forever on `pos += 0`).
    */
  private def bmffBoxes(data: Array[Byte], start: Long, end: Long): Iterator[(String, Long, Long)] = {
    def u32(i: Int): Long =
      ((data(i) & 0xFFL) << 24) | ((data(i + 1) & 0xFFL) << 16) |
        ((data(i + 2) & 0xFFL) << 8) | (data(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    new Iterator[(String, Long, Long)] {
      private var pos = start
      def hasNext: Boolean = pos + 8 <= end && pos + 8 <= data.length
      def next(): (String, Long, Long) = {
        val p = pos.toInt
        val declared = u32(p)
        val typ = new String(data, p + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val (hdr, size) =
          if (declared == 1 && pos + 16 <= data.length) (16L, u64(p + 8))
          else if (declared == 0) (8L, end - pos)
          else (8L, declared)
        val r = (typ, pos + hdr, pos + math.max(hdr, size))
        pos += math.max(hdr, size)
        r
      }
    }
  }

  /** Encode one grayscale matrix as a baseline JPEG via the JDK codec
    * (TYPE_BYTE_GRAY → single-component JPEG at the writer's default
    * quality). Flat inputs round-trip exactly; see the section note.
    */
  def jpegEncodeGray(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && gray.length == w * h, "dims must match pixels")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, w, h, 0, gray)
    val bos = new java.io.ByteArrayOutputStream()
    // r12: thread-cached writer + memory-cache stream — ImageIO.write on
    // a bare OutputStream builds a FileCache stream (one TEMP FILE per
    // encoded payload) and a fresh writer per call; same codec class,
    // default params, identical bytes
    val wr = Codec.writer("jpeg")
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.write(img)
    } finally { wr.reset(); ios.close() }
    bos.toByteArray
  }

  /** Encode grayscale frames as an MP4 (ISO BMFF) with a Motion-JPEG
    * video track: `ftyp` + one `mdat` holding the concatenated JPEG
    * samples (one chunk) + a full `moov` — mvhd (timescale/duration),
    * tkhd (16.16 presentation dims), mdhd/hdlr('vide')/vmhd/dinf, and a
    * complete sample table (stsd 'jpeg' VisualSampleEntry, stts with one
    * constant-delta run, stsc, stsz, stco). `sampleDelta` is in
    * `timescale` units; duration = n·sampleDelta. [[decodeMp4]] (the
    * header path) and [[decodeMp4Samples]] (the demux) both read the
    * result; MultimodalSpec pins the round-trip.
    */
  def encodeMp4Mjpeg(w: Int, h: Int, timescale: Int, sampleDelta: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    require(w > 0 && h > 0 && timescale > 0 && sampleDelta > 0 &&
      frames.nonEmpty && frames.forall(_.length == w * h),
      "dims must match every frame")
    val samples = frames.map(jpegEncodeGray(w, h, _))
    val n = samples.length
    val duration = n.toLong * sampleDelta
    // size-back-patched box writer: push a placeholder, write the body,
    // patch the u32 size — no hand-summed layout arithmetic to get wrong
    val bytes = new java.util.ArrayList[Byte]() // growable, patchable
    def put(b: Int): Unit = { bytes.add(b.toByte); () }
    def put4s(s: String): Unit = { require(s.length == 4); s.foreach(c => put(c.toInt)) }
    def pu16(v: Int): Unit = { put(v >>> 8); put(v) }
    def pu32(v: Long): Unit = { put((v >>> 24).toInt); put((v >>> 16).toInt); put((v >>> 8).toInt); put(v.toInt) }
    def patch32(at: Int, v: Long): Unit = {
      bytes.set(at, (v >>> 24).toByte); bytes.set(at + 1, (v >>> 16).toByte)
      bytes.set(at + 2, (v >>> 8).toByte); bytes.set(at + 3, v.toByte); ()
    }
    def box(typ: String)(body: => Unit): Unit = {
      val at = bytes.size()
      pu32(0); put4s(typ)
      body
      patch32(at, (bytes.size() - at).toLong)
    }
    def full(typ: String, version: Int = 0, flags: Int = 0)(body: => Unit): Unit =
      box(typ) { put(version); put(flags >>> 16); put((flags >>> 8) & 0xFF); put(flags & 0xFF); body }
    box("ftyp") { put4s("isom"); pu32(0x200); put4s("isom"); put4s("mp41") }
    // mdat: record where sample payload starts — that offset IS stco[0]
    var chunkOffset = 0L
    box("mdat") {
      chunkOffset = bytes.size().toLong
      samples.foreach(s => s.foreach(b => bytes.add(b)))
    }
    val identityMatrix = Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
    box("moov") {
      full("mvhd") {
        pu32(0); pu32(0) // creation/modification time
        pu32(timescale.toLong); pu32(duration)
        pu32(0x10000); pu16(0x100); pu16(0); pu32(0); pu32(0) // rate, volume, reserved
        identityMatrix.foreach(pu32)
        (0 until 6).foreach(_ => pu32(0)) // pre_defined
        pu32(2) // next_track_ID
      }
      box("trak") {
        full("tkhd", 0, 7) { // enabled | in-movie | in-preview
          pu32(0); pu32(0); pu32(1); pu32(0); pu32(duration)
          pu32(0); pu32(0); pu16(0); pu16(0); pu16(0); pu16(0)
          identityMatrix.foreach(pu32)
          pu32(w.toLong << 16); pu32(h.toLong << 16) // 16.16 fixed point
        }
        box("mdia") {
          full("mdhd") {
            pu32(0); pu32(0); pu32(timescale.toLong); pu32(duration)
            pu16(0x55C4); pu16(0) // language 'und', pre_defined
          }
          full("hdlr") {
            pu32(0); put4s("vide"); pu32(0); pu32(0); pu32(0)
            "VideoHandler".foreach(c => put(c.toInt)); put(0)
          }
          box("minf") {
            full("vmhd", 0, 1) { pu16(0); pu16(0); pu16(0); pu16(0) }
            box("dinf") {
              full("dref") { pu32(1); full("url ", 0, 1) {} }
            }
            box("stbl") {
              full("stsd") {
                pu32(1)
                box("jpeg") { // VisualSampleEntry, ISO 14496-12 §12.1.3
                  (0 until 6).foreach(_ => put(0)); pu16(1) // reserved, data_reference_index
                  pu16(0); pu16(0); (0 until 3).foreach(_ => pu32(0)) // pre_defined/reserved
                  pu16(w); pu16(h)
                  pu32(0x480000); pu32(0x480000) // 72 dpi
                  pu32(0); pu16(1) // reserved, frame_count
                  put(0); (0 until 31).foreach(_ => put(0)) // compressorname (pascal, empty)
                  pu16(24); pu16(0xFFFF) // depth, pre_defined = -1
                }
              }
              full("stts") { pu32(1); pu32(n.toLong); pu32(sampleDelta.toLong) }
              full("stsc") { pu32(1); pu32(1); pu32(n.toLong); pu32(1) }
              full("stsz") { pu32(0); pu32(n.toLong); samples.foreach(s => pu32(s.length.toLong)) }
              full("stco") { pu32(1); pu32(chunkOffset) }
            }
          }
        }
      }
    }
    val out = new Array[Byte](bytes.size())
    var i = 0
    while (i < out.length) { out(i) = bytes.get(i); i += 1 }
    out
  }

  /** REAL MP4 sample demux: walk moov → trak → mdia → minf → stbl for the
    * first track whose stsd sample entry is 'jpeg', expand the stsc
    * chunk-run table against stco/co64 chunk offsets and stsz sample
    * sizes, and slice each sample's bytes out of the payload. Returns
    * (width, height, timescale, durationUnits, samples); None when the
    * payload has no parseable MJPEG track. Never throws on crafted
    * headers: sizes/offsets are validated against the payload bounds and
    * counts are capped (a declared u32 sample count near 2^32 would
    * otherwise allocate before the bounds check fires).
    */
  def decodeMp4Samples(data: Array[Byte]): Option[(Int, Int, Long, Long, Seq[Array[Byte]])] = {
    def u16(i: Int): Int = ((data(i) & 0xFF) << 8) | (data(i + 1) & 0xFF)
    def u32(i: Int): Long =
      ((data(i) & 0xFFL) << 24) | ((data(i + 1) & 0xFFL) << 16) |
        ((data(i + 2) & 0xFFL) << 8) | (data(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    val MaxSamples = 1 << 20 // crafted-count allocation guard
    try {
      bmffBoxes(data, 0, data.length).collectFirst { case ("moov", ms, me) =>
        var timescale = 0L
        var duration = 0L
        var track: Option[(Int, Int, Long, Long, Seq[Array[Byte]])] = None
        for ((typ, bs, be) <- bmffBoxes(data, ms, me)) typ match {
          case "mvhd" if bs + 4 <= data.length =>
            val v = data(bs.toInt) & 0xFF
            if (v == 1 && bs + 32 <= be) { timescale = u32(bs.toInt + 20); duration = u64(bs.toInt + 24) }
            else if (bs + 24 <= be) { timescale = u32(bs.toInt + 12); duration = u32(bs.toInt + 16) }
          case "trak" if track.isEmpty =>
            val stbl = for {
              (t1, s1, e1) <- bmffBoxes(data, bs, be) if t1 == "mdia"
              (t2, s2, e2) <- bmffBoxes(data, s1, e1) if t2 == "minf"
              (t3, s3, e3) <- bmffBoxes(data, s2, e2) if t3 == "stbl"
            } yield (s3, e3)
            stbl.toSeq.headOption.foreach { case (ss, se) =>
              var dims: Option[(Int, Int)] = None
              var sizes: Array[Long] = null
              var chunkOffs: Array[Long] = null
              // stsc runs: (firstChunk, samplesPerChunk)
              var stscRuns: Array[(Long, Long)] = null
              for ((t, s, e) <- bmffBoxes(data, ss, se)) t match {
                case "stsd" if s + 8 <= e =>
                  // first sample entry: size4 + fourcc; MJPEG is 'jpeg'
                  val entS = (s + 8).toInt
                  if (entS + 8 <= data.length &&
                    new String(data, entS + 4, 4, java.nio.charset.StandardCharsets.US_ASCII) == "jpeg" &&
                    entS + 34 <= data.length)
                    dims = Some((u16(entS + 32), u16(entS + 34)))
                case "stsz" if s + 12 <= e =>
                  val fixed = u32((s + 4).toInt)
                  val cnt = u32((s + 8).toInt)
                  if (cnt >= 0 && cnt <= MaxSamples &&
                    (fixed != 0 || s + 12 + cnt * 4 <= e)) {
                    sizes = new Array[Long](cnt.toInt)
                    var i = 0
                    while (i < cnt) {
                      sizes(i) = if (fixed != 0) fixed else u32((s + 12 + i * 4).toInt)
                      i += 1
                    }
                  }
                case "stco" if s + 8 <= e =>
                  val cnt = u32((s + 4).toInt)
                  if (cnt >= 0 && cnt <= MaxSamples && s + 8 + cnt * 4 <= e) {
                    chunkOffs = new Array[Long](cnt.toInt)
                    var i = 0
                    while (i < cnt) { chunkOffs(i) = u32((s + 8 + i * 4).toInt); i += 1 }
                  }
                case "co64" if s + 8 <= e =>
                  val cnt = u32((s + 4).toInt)
                  if (cnt >= 0 && cnt <= MaxSamples && s + 8 + cnt * 8 <= e) {
                    chunkOffs = new Array[Long](cnt.toInt)
                    var i = 0
                    while (i < cnt) { chunkOffs(i) = u64((s + 8 + i * 8).toInt); i += 1 }
                  }
                case "stsc" if s + 8 <= e =>
                  val cnt = u32((s + 4).toInt)
                  if (cnt >= 0 && cnt <= MaxSamples && s + 8 + cnt * 12 <= e) {
                    stscRuns = new Array[(Long, Long)](cnt.toInt)
                    var i = 0
                    while (i < cnt) {
                      stscRuns(i) = (u32((s + 8 + i * 12).toInt), u32((s + 12 + i * 12).toInt))
                      i += 1
                    }
                  }
                case _ => ()
              }
              for ((w, h) <- dims if sizes != null && chunkOffs != null &&
                  stscRuns != null && stscRuns.nonEmpty && w > 0 && h > 0) {
                // expand chunk runs → per-sample (offset, size)
                val out = Seq.newBuilder[Array[Byte]]
                var sample = 0
                var run = 0
                var chunk = 0 // 0-based
                var ok = true
                while (sample < sizes.length && chunk < chunkOffs.length && ok) {
                  // advance run while the NEXT run starts at or before this chunk
                  while (run + 1 < stscRuns.length && stscRuns(run + 1)._1 <= chunk + 1) run += 1
                  val perChunk = stscRuns(run)._2
                  var off = chunkOffs(chunk)
                  var i = 0L
                  while (i < perChunk && sample < sizes.length && ok) {
                    val sz = sizes(sample)
                    if (off < 0 || sz < 0 || sz > data.length || off + sz > data.length) ok = false
                    else {
                      out += java.util.Arrays.copyOfRange(data, off.toInt, (off + sz).toInt)
                      off += sz
                      sample += 1
                    }
                    i += 1
                  }
                  chunk += 1
                }
                if (ok && sample == sizes.length)
                  track = Some((w, h, timescale, duration, out.result()))
              }
            }
          case _ => ()
        }
        track
      }.flatten
    } catch { case _: Exception => None }
  }

  /** REAL MP4 frame decode: demux the MJPEG samples, then decode each
    * through the JDK's JPEG ImageIO codec ([[decodeGrayPixels]] — the
    * single-band gray raster path, so samples are the stored values with
    * no linear→sRGB distortion). Returns Nil for payloads with no
    * decodable MJPEG track.
    */
  def decodeMp4Frames(data: Array[Byte]): Seq[(Int, Int, Array[Int])] =
    decodeMp4Samples(data) match {
      case Some((_, _, _, _, samples)) => samples.flatMap(decodeGrayPixels(_))
      case None => Nil
    }

  /** REAL frame sampling for MJPEG MP4 payloads: every k-th demuxed
    * sample, k = ceil(total/n). Each sample is ALREADY a standalone JPEG
    * image — no re-encode needed, unlike the AVI/GIF paths. Returns Nil
    * for payloads with no MJPEG track.
    */
  def frameSampleMp4(data: Array[Byte], n: Int): Seq[Array[Byte]] = {
    require(n > 0, "sample count must be positive")
    decodeMp4Samples(data) match {
      case Some((_, _, _, _, samples)) if samples.nonEmpty =>
        val k = math.max(1, (samples.length + n - 1) / n)
        samples.zipWithIndex.collect { case (s, i) if i % k == 0 => s }.take(n)
      case _ => Nil
    }
  }

  /** REAL feature embedding from decoded pixels — the decodable-format
    * counterpart of [[extractStub]]: full pixel decode through the JDK
    * codec ([[decodeGrayPixels]]), then exact-integer average pooling to
    * a `gw×gh` grid. Cell (gy,gx) is the floor mean of its source block
    * (rows `[gy·h/gh, (gy+1)·h/gh)` × cols `[gx·w/gw, (gx+1)·w/gw)`) —
    * the downsampled-intensity descriptor classical visual near-dup /
    * retrieval pipelines use below the learned-model layer. Deterministic
    * exact integers, so an oracle can replay every cell from planted
    * pixels (a 16×16 source pooled to 8×8 is the 2×2-block floor mean).
    * None when no JDK codec claims the payload — callers fall back to
    * the byte-histogram stub, which remains the honest stand-in for
    * payloads that need a codec the JDK lacks.
    */
  def pixelEmbed(data: Array[Byte], gw: Int, gh: Int): Option[Array[Long]] = {
    require(gw > 0 && gh > 0, "grid dims must be positive")
    decodeGrayPixels(data).map { case (w, h, gray) =>
      val out = new Array[Long](gw * gh)
      var gy = 0
      while (gy < gh) {
        // Long index math: decoders cap dims, but the pooling contract
        // must not depend on that (crafted w·h near Int.MaxValue)
        val y0 = (gy.toLong * h / gh).toInt; val y1 = ((gy + 1).toLong * h / gh).toInt
        var gx = 0
        while (gx < gw) {
          val x0 = (gx.toLong * w / gw).toInt; val x1 = ((gx + 1).toLong * w / gw).toInt
          var sum = 0L; var n = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sum += gray(y * w + x); n += 1; x += 1 }
            y += 1
          }
          // a source smaller than the grid leaves some blocks empty
          // (x0 == x1 or y0 == y1): those cells are 0, not a crash
          out(gy * gw + gx) = if (n == 0) 0L else sum / n
          gx += 1
        }
        gy += 1
      }
      out
    }
  }

  /** STUB feature extractor: 8 byte-histogram buckets, L1-normalized.
    * Deterministic; stands in for a real embedding model.
    */
  def extractStub(data: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](8)
    data.foreach(x => hist((x & 0xFF) >> 5) += 1.0)
    val n = math.max(1.0, data.length.toDouble)
    hist.map(_ / n)
  }

  /** STUB resize: nearest-neighbor downsample of the payload viewed as a
    * `w×h` byte matrix — the real implementation would resample decoded
    * pixels; the stub keeps the exact sampling arithmetic (index mapping
    * `(x·w)/w'`, `(y·h)/h'`) so the Spark-side shape is the real one.
    * Output length is exactly `newW·newH`.
    */
  def resizeStub(data: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte] = {
    require(newW > 0 && newH > 0, "target dims must be positive")
    val out = new Array[Byte](newW * newH)
    var y = 0
    while (y < newH) {
      val srcY = (y.toLong * h / newH).toInt
      var x = 0
      while (x < newW) {
        val srcX = (x.toLong * w / newW).toInt
        // Long arithmetic: a crafted header can declare dims whose product
        // overflows Int (e.g. 131072×32768), which would wrap negative and
        // pass a naive `idx < length` check
        val idx = srcY.toLong * w + srcX
        out(y * newW + x) = if (idx >= 0 && idx < data.length) data(idx.toInt) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  // ────────────────────── real NumPy (.npy) tensor payloads ────────────
  // The reference's recommended-content-type catalog names
  // `application/x-npy` explicitly (`docs/draft.md:187-195`) — the tensor
  // payload of an ML training record. The .npy v1.0 format is public and
  // tiny: 6-byte magic, version, u16 header length, a Python-dict header
  // ({'descr','fortran_order','shape'}) padded to a 64-byte boundary,
  // then raw elements. Both directions below are byte-exact for integer
  // and IEEE-754 payloads, so planted tensors round-trip bit-identically
  // (the multimodal_npy_features oracle leans on the i8 path; f4 carries
  // embeddings).

  /** Encode a C-order tensor as .npy v1.0 with the given numpy descr
    * (`<i8` int64 or `<f4` float32), shape, and little-endian payload.
    */
  private def encodeNpy(descr: String, shape: Seq[Int], payload: Array[Byte]): Array[Byte] = {
    val shapeStr = shape.mkString("(", ", ", if (shape.length == 1) ",)" else ")")
    val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shapeStr, }"
    // total header (magic 8 + len 2 + dict + padding + '\n') ≡ 0 mod 64
    val unpadded = 10 + dict.length + 1
    val pad = (64 - unpadded % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val out = new Array[Byte](10 + header.length + payload.length)
    out(0) = 0x93.toByte; out(1) = 'N'; out(2) = 'U'; out(3) = 'M'
    out(4) = 'P'; out(5) = 'Y'; out(6) = 1; out(7) = 0
    out(8) = (header.length & 0xFF).toByte
    out(9) = ((header.length >> 8) & 0xFF).toByte
    var i = 0
    while (i < header.length) { out(10 + i) = header.charAt(i).toByte; i += 1 }
    System.arraycopy(payload, 0, out, 10 + header.length, payload.length)
    out
  }

  /** int64 tensor → .npy (`<i8`, C-order). */
  def encodeNpyLongs(shape: Seq[Int], values: Array[Long]): Array[Byte] = {
    require(shape.product == values.length, "shape must match value count")
    val payload = new Array[Byte](values.length * 8)
    var i = 0
    while (i < values.length) {
      var v = values(i); var j = 0
      while (j < 8) { payload(i * 8 + j) = (v & 0xFF).toByte; v >>= 8; j += 1 }
      i += 1
    }
    encodeNpy("<i8", shape, payload)
  }

  /** float32 tensor → .npy (`<f4`, C-order) — the embedding-column shape. */
  def encodeNpyFloats(shape: Seq[Int], values: Array[Float]): Array[Byte] = {
    require(shape.product == values.length, "shape must match value count")
    val bb = java.nio.ByteBuffer.allocate(values.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putFloat)
    encodeNpy("<f4", shape, bb.array())
  }

  /** REAL .npy header decode: (descr, shape, payload offset). Handles
    * v1.0 (u16 header len) and v2.0 (u32); None when the magic, version
    * or header dict is malformed. O(header) — elements are not touched.
    */
  def decodeNpyHeader(data: Array[Byte]): Option[(String, Seq[Int], Int)] = {
    if (data.length < 10 || data(0) != 0x93.toByte || data(1) != 'N' ||
      data(2) != 'U' || data(3) != 'M' || data(4) != 'P' || data(5) != 'Y') return None
    try {
      val major = data(6) & 0xFF
      val (hLen, hOff) =
        if (major == 1) (((data(8) & 0xFF) | ((data(9) & 0xFF) << 8)), 10)
        else ((data(8) & 0xFF) | ((data(9) & 0xFF) << 8) |
          ((data(10) & 0xFF) << 16) | ((data(11) & 0xFF) << 24), 12)
      if (hOff + hLen > data.length) return None
      val header = new String(data, hOff, hLen, java.nio.charset.StandardCharsets.US_ASCII)
      val descr = "'descr':\\s*'([^']+)'".r.findFirstMatchIn(header).map(_.group(1))
      val shape = "'shape':\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header).map(_.group(1))
      // fortran-order payloads would transpose silently; reject them
      val cOrder = "'fortran_order':\\s*False".r.findFirstIn(header).isDefined
      (descr, shape) match {
        case (Some(d), Some(s)) if cOrder =>
          val dims = s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
          Some((d, if (dims.isEmpty) Seq(1) else dims, hOff + hLen))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** Element count of a decoded shape, or -1 when any dim is negative or
    * the product overflows Int — a crafted header's `(-1,)` or
    * `(16, 16, 16777216)` must fall to None, not wrap past the bounds
    * check and throw in array allocation (the never-throw contract every
    * decoder in this file honors).
    */
  private def safeElemCount(shape: Seq[Int]): Int = {
    var n = 1L
    shape.foreach { d => if (d < 0) return -1; n *= d; if (n > Int.MaxValue) return -1 }
    n.toInt
  }

  /** FULL int64 tensor decode (`<i8`): (shape, values). None on any other
    * dtype — callers dispatch on [[decodeNpyHeader]]'s descr.
    */
  def decodeNpyLongs(data: Array[Byte]): Option[(Seq[Int], Array[Long])] =
    decodeNpyHeader(data).flatMap { case (descr, shape, off) =>
      val n = safeElemCount(shape)
      if (descr != "<i8" || n < 0 || n > (data.length - off) / 8) None
      else {
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          var v = 0L; var j = 7
          while (j >= 0) { v = (v << 8) | (data(off + i * 8 + j) & 0xFFL); j -= 1 }
          out(i) = v; i += 1
        }
        Some((shape, out))
      }
    }

  /** FULL float32 tensor decode (`<f4`): (shape, values) — bit-exact
    * (IEEE-754 bytes pass through intBitsToFloat untouched).
    */
  def decodeNpyFloats(data: Array[Byte]): Option[(Seq[Int], Array[Float])] =
    decodeNpyHeader(data).flatMap { case (descr, shape, off) =>
      val n = safeElemCount(shape)
      if (descr != "<f4" || n < 0 || n > (data.length - off) / 4) None
      else {
        val bb = java.nio.ByteBuffer.wrap(data, off, n * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = new Array[Float](n)
        var i = 0
        while (i < n) { out(i) = bb.getFloat(); i += 1 }
        Some((shape, out))
      }
    }

  /** REAL image resize for JDK-decodable payloads: full pixel decode
    * (ImageIO), nearest-neighbor resample with the exact integer index
    * map `src = (y·h/newH, x·w/newW)` — the same map [[resizeStub]]
    * applies to raw bytes, here applied to actual pixels — re-encoded as
    * an uncompressed BMP. Every step is exact integer arithmetic over
    * losslessly-decoded pixels, so the resized image's pixels are
    * replayable from the source pixels (the `multimodal_resize` oracle
    * replays the sample positions in SQL). None when no JDK codec claims
    * the payload — callers then fall back to the stub.
    */
  def resizeImage(data: Array[Byte], newW: Int, newH: Int): Option[Array[Byte]] = {
    require(newW > 0 && newH > 0, "target dims must be positive")
    decodeGrayPixels(data).map { case (w, h, g) =>
      val out = new Array[Int](newW * newH)
      var y = 0
      while (y < newH) {
        val srcY = (y.toLong * h / newH).toInt
        var x = 0
        while (x < newW) {
          val srcX = (x.toLong * w / newW).toInt
          out(y * newW + x) = g(srcY * w + srcX)
          x += 1
        }
        y += 1
      }
      encodeBmpGray(newW, newH, out)
    }
  }

  /** Frame-sample dispatch: REAL decoded frames for containers we can
    * parse (AVI DIB via [[frameSampleAvi]]; multi-frame GIF via
    * [[decodeGifFrames]], same every-k-th pick, re-encoded as BMPs;
    * MJPEG MP4 via [[frameSampleMp4]] — each demuxed sample is already a
    * standalone JPEG), byte-slice stub only for payloads no JDK codec
    * claims.
    */
  def frameSample(data: Array[Byte], n: Int): Seq[Array[Byte]] = {
    require(n > 0, "sample count must be positive")
    val avi = frameSampleAvi(data, n)
    if (avi.nonEmpty) return avi
    val gif = decodeGifFrames(data)
    if (gif.length > 1) {
      val k = math.max(1, (gif.length + n - 1) / n)
      gif.zipWithIndex.collect {
        case ((w, h, g), i) if i % k == 0 => encodeBmpGray(w, h, g)
      }.take(n)
    } else {
      val mp4 = frameSampleMp4(data, n)
      if (mp4.nonEmpty) mp4 else frameSampleStub(data, n)
    }
  }

  /** STUB frame sampler for payloads with no JDK-decodable frames (a
    * codec the JDK lacks — e.g. H.264 in MP4): returns `n` evenly spaced
    * byte-slices standing in for decoded frames. AVI, multi-frame GIF,
    * and MJPEG MP4 payloads all go through REAL decode paths instead.
    */
  def frameSampleStub(data: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (data.isEmpty || n <= 0) Seq.empty
    else {
      val frame = math.max(1, data.length / n)
      (0 until n).map { i =>
        val start = math.min(i * frame, data.length - 1)
        data.slice(start, math.min(start + frame, data.length))
      }
    }
  }

  /** Decode a shardpack-shaped DataFrame (`key, metadata, entries`) into
    * typed media metadata — one output row per entry. Runs per-partition;
    * the iterator is consumed lazily so payloads stream through.
    */
  def decodeEntries(df: DataFrame): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select($"key", explode($"entries").as("e"))
      .select($"key", $"e.content_type".as("content_type"), $"e.data".as("data"))
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (k, ct, d) => decode(k, ct, d) })
  }

  /** Resize every entry payload to `newW×newH` — header parse and resample
    * fused in one per-partition pass so pixels never round-trip through a
    * shuffle. Image payloads the JDK can decode go through the REAL
    * [[resizeImage]] pixel path (decode → nearest-neighbor → BMP);
    * everything else falls back to [[resizeStub]] over raw bytes with
    * stub dims. `content_type` rides through so downstream stages can
    * still route by modality (resized images are BMP re-encodes —
    * `image/bmp`).
    */
  def resizeEntries(df: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select($"key", explode($"entries").as("e"))
      .select($"key", $"e.content_type".as("content_type"), $"e.data".as("data"))
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (k, ct, d) =>
        val real =
          if (ct != null && ct.startsWith("image/")) resizeImage(d, newW, newH)
          else None
        real match {
          case Some(px) => (k, "image/bmp", newW, newH, px)
          case None =>
            val (w, h, _) = decodeDimsStub(d)
            (k, ct, newW, newH, resizeStub(d, w, h, newW, newH))
        }
      })
      .toDF("key", "content_type", "width", "height", "data")
  }

  /** Sample up to `n` frames per entry payload — one output row per
    * sampled frame (`key, frame_idx, data`), real decoded frames for
    * AVI/GIF containers and byte-slice stubs otherwise ([[frameSample]]).
    * Per-partition like the other entry verbs; payloads stream through.
    */
  def sampleFrameEntries(df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select($"key", explode($"entries").as("e"))
      .select($"key", $"e.data".as("data"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (k, d) =>
        frameSample(d, n).zipWithIndex.map { case (f, i) => (k, i, f) }
      })
      .toDF("key", "frame_idx", "data")
  }

  /** Extract feature vectors per entry payload (batch shape: one partition =
    * one decode batch, matching the shard = task unit). Image payloads take
    * the REAL path — pixel decode + 8×8 average-pool embedding
    * ([[pixelEmbed]], values scaled to [0,1] by /255, exact in double) —
    * with the byte-histogram [[extractStub]] as the fallback for
    * content types no JDK codec claims. The content-type gate keeps the
    * non-image path free of per-payload ImageIO reader probing.
    */
  def extractFeatures(df: DataFrame): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select($"key", explode($"entries").as("e"))
      .select($"key", $"e.content_type".as("content_type"), $"e.data".as("data"))
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (k, ct, d) =>
        val real =
          if (ct != null && ct.startsWith("image/")) pixelEmbed(d, 8, 8)
          else None
        MediaFeatures(k, real match {
          case Some(e) => e.map(_ / 255.0)
          case None    => extractStub(d)
        })
      })
  }
}
