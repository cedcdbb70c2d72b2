package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The Spark plumbing around the (stubbed) multimodal decode path: schema,
  * determinism, partition behavior, and the full shardpack→decode→features
  * pipeline.
  */
class MultimodalSpec extends AnyFunSuite with SparkTestBase {

  private def mediaDf(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).select(
      format_string("img%04d", $"id").as("key"),
      lit(null).cast("binary").as("metadata"),
      array(struct(
        lit("frame.jpg").as("file_name"),
        lit("image/jpeg").as("content_type"),
        lit("").as("encoding"),
        // deterministic fake payload bytes per id
        sha2($"id".cast("string"), 256).cast("binary").as("data"))).as("entries"))
  }

  test("decodeEntries yields one typed MediaMeta row per entry, deterministic") {
    val out1 = Multimodal.decodeEntries(mediaDf(50)).collect().sortBy(_.key)
    val out2 = Multimodal.decodeEntries(mediaDf(50)).collect().sortBy(_.key)
    assert(out1.length == 50)
    assert(out1.map(m => (m.key, m.width, m.height, m.sha)).toSeq ==
      out2.map(m => (m.key, m.width, m.height, m.sha)).toSeq)
    assert(out1.forall(m => m.width >= 1 && m.height >= 1 && m.nChannels >= 1))
    assert(out1.forall(_.contentType == "image/jpeg"))
  }

  test("extractFeatures produces fixed-width L1-normalized vectors") {
    // undecodable payloads (fake jpeg bytes) take the byte-histogram
    // fallback even under the image/* content type
    val feats = Multimodal.extractFeatures(mediaDf(20)).collect()
    assert(feats.length == 20)
    assert(feats.forall(_.features.length == 8))
    assert(feats.forall(f => math.abs(f.features.sum - 1.0) < 1e-9))
  }

  test("pixelEmbed: exact 2x2-block floor means; real extractFeatures route") {
    // hand-checkable plant: gray(y,x) = 16y + x on a 16×16 grid, so the
    // pooled cell (gy,gx) = floor((v00+v01+v10+v11)/4) with
    // v = {32gy+2gx, +1, +16, +17} → mean = 32gy + 2gx + 8 (exact /4=+34/4=8.5→
    // floor of sum (4·(32gy+2gx)+34)/4 = 32gy+2gx+8)
    val gray = Array.tabulate(256)(i => (i / 16) * 16 + (i % 16))
    // cap at 255 not needed: max = 15*16+15 = 255 exactly
    val bmp = Multimodal.encodeBmpGray(16, 16, gray)
    val e = Multimodal.pixelEmbed(bmp, 8, 8).get
    assert(e.length == 64)
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val exp = (4 * (32 * gy + 2 * gx) + 34) / 4
      assert(e(gy * 8 + gx) == exp, s"cell ($gy,$gx)")
    }
    // undecodable payload → None (caller falls back to the stub)
    assert(Multimodal.pixelEmbed(Array[Byte](1, 2, 3), 8, 8).isEmpty)
    // a source smaller than the grid leaves empty blocks at 0, no crash
    val tiny = Multimodal.encodeBmpGray(2, 2, Array(10, 20, 30, 40))
    val te = Multimodal.pixelEmbed(tiny, 8, 8).get
    assert(te.length == 64 && te.count(_ != 0L) <= 4)
    // the REAL extractFeatures route: a decodable image entry yields the
    // pooled embedding (scaled /255), not the byte histogram
    import spark.implicits._
    val df = Seq(("real0", bmp)).toDF("key", "data").select(
      $"key", lit(null).cast("binary").as("metadata"),
      array(struct(lit("a.bmp").as("file_name"),
        lit("image/bmp").as("content_type"),
        lit("").as("encoding"), $"data".as("data"))).as("entries"))
    val out = Multimodal.extractFeatures(df).collect()
    assert(out.length == 1 && out.head.features.length == 64)
    assert(out.head.features.zipWithIndex.forall { case (f, i) =>
      f == e(i) / 255.0
    })
  }

  test("frame sampling covers the payload with n slices") {
    val data = (0 until 1000).map(_.toByte).toArray
    val frames = Multimodal.frameSampleStub(data, 4)
    assert(frames.length == 4)
    assert(frames.map(_.length).sum <= data.length + 4 * 250)
    assert(frames.head.head == 0.toByte)
    assert(Multimodal.frameSampleStub(Array.emptyByteArray, 4).isEmpty)
    // the production dispatcher: REAL decoded frames for parseable
    // containers (GIF here; AVI pinned in its own case), stub otherwise
    val gifFrames = (0 until 4).map(f => Array.fill(8 * 8)(f * 60))
    val gif = Multimodal.encodeGifGray(8, 8, gifFrames)
    val viaGif = Multimodal.frameSample(gif, 2) // k = 2 -> frames 0, 2
    assert(viaGif.length == 2)
    assert(Multimodal.decodeGrayPixels(viaGif(1)).exists(_._3.sameElements(gifFrames(2))))
    assert(Multimodal.frameSample(data, 4).length == 4) // stub fallback
    // the entry-level verb emits one row per sampled frame
    val rows = Multimodal.sampleFrameEntries(mediaDf(5), 3).collect()
    assert(rows.length == 15 && rows.forall(_.getAs[Int]("frame_idx") < 3))
  }

  test("resize maps payloads to exactly newW*newH bytes, idempotent at same size") {
    val data = (0 until 64 * 48).map(_.toByte).toArray
    val small = Multimodal.resizeStub(data, 64, 48, 16, 12)
    assert(small.length == 16 * 12)
    // corner pixels survive nearest-neighbor downsampling
    assert(small(0) == data(0))
    val same = Multimodal.resizeStub(data, 64, 48, 64, 48)
    assert(same.toSeq == data.toSeq, "identity resize must be a no-op")
    val df = Multimodal.resizeEntries(mediaDf(10), 8, 8).collect()
    assert(df.length == 10)
    // fake payloads aren't decodable → stub path: raw newW·newH bytes
    assert(df.forall(_.getAs[Array[Byte]]("data").length == 64))
  }

  test("resizeImage: REAL decode → nearest-neighbor → BMP, exact index map") {
    val src = Array.tabulate(16 * 16)(i => (i * 7) % 256)
    val bmp = Multimodal.encodeBmpGray(16, 16, src)
    val out = Multimodal.resizeImage(bmp, 8, 8)
    assert(out.isDefined, "a real BMP payload must take the pixel path")
    val dec = Multimodal.decodeGrayPixels(out.get)
    assert(dec.exists { case (w, h, g) =>
      w == 8 && h == 8 && (0 until 64).forall { i =>
        val y = i / 8; val x = i % 8
        g(i) == src((y * 16 / 8) * 16 + (x * 16 / 8)) // src = (2y, 2x)
      }
    }, "resized pixels must be the exact nearest-neighbor samples")
    // identity resize round-trips the pixels unchanged
    val same = Multimodal.resizeImage(bmp, 16, 16)
    assert(same.flatMap(Multimodal.decodeGrayPixels).exists(_._3.sameElements(src)))
    // undecodable payloads return None (callers fall back to the stub)
    assert(Multimodal.resizeImage(Array[Byte](1, 2, 3), 8, 8).isEmpty)
    // resizeEntries routes real image payloads through the pixel path:
    // output is a BMP whose pixels match, not raw bytes
    import spark.implicits._
    val realDf = spark.range(3L).select(
      format_string("img%04d", $"id").as("key"),
      lit(null).cast("binary").as("metadata"),
      array(struct(
        lit("a.bmp").as("file_name"),
        lit("image/bmp").as("content_type"),
        lit("").as("encoding"),
        lit(bmp).as("data"))).as("entries"))
    val resized = Multimodal.resizeEntries(realDf, 8, 8).collect()
    assert(resized.forall(r => r.getAs[String]("content_type") == "image/bmp" &&
      Multimodal.decodeGrayPixels(r.getAs[Array[Byte]]("data"))
        .exists { case (w, h, _) => w == 8 && h == 8 }))
  }

  test("pipeline: shardpack round-trip then decode preserves payload identity") {
    val dir = Files.createTempDirectory("mm-shardpack").toString
    mediaDf(30).write.format("shardpack").option("compression", "gzip")
      .mode("append").save(dir)
    val back = spark.read.format("shardpack").load(dir)
    val metas = Multimodal.decodeEntries(back).collect().sortBy(_.key)
    val direct = Multimodal.decodeEntries(mediaDf(30)).collect().sortBy(_.key)
    // decode-through-format == decode-direct → byte-identical round trip
    assert(metas.map(m => (m.key, m.sha)).toSeq == direct.map(m => (m.key, m.sha)).toSeq)
  }

  test("decode runs partition-parallel without driver collection") {
    val ds = Multimodal.decodeEntries(mediaDf(100).repartition(7))
    assert(ds.rdd.getNumPartitions == 7)
    assert(ds.count() == 100)
  }

  private def encodeImage(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("image/* payloads decode REAL dimensions via javax.imageio") {
    val png = encodeImage("png", 37, 23)
    val bmp = encodeImage("bmp", 64, 8)
    // direct: header-only parse returns the true dims and band count
    assert(Multimodal.decodeImage(png).contains((37, 23, 3)))
    assert(Multimodal.decodeImage(bmp).contains((64, 8, 3)))
    // through the Spark pipeline: real dims for real images, stub fallback
    // for an image-typed payload no JDK reader claims
    import spark.implicits._
    val df = Seq(
      ("png1", "image/png", png),
      ("bmp1", "image/bmp", bmp),
      ("junk", "image/jpeg", Array[Byte](1, 2, 3, 4, 5)),
      ("wav1", "audio/wav", Array[Byte](9, 9, 9, 9))
    ).toDF("key", "content_type", "data")
      .select($"key", lit(null).cast("binary").as("metadata"),
        array(struct(lit("f").as("file_name"), $"content_type",
          lit("").as("encoding"), $"data")).as("entries"))
    val metas = Multimodal.decodeEntries(df).collect().map(m => m.key -> m).toMap
    assert(metas("png1").width == 37 && metas("png1").height == 23 &&
      metas("png1").nChannels == 3)
    assert(metas("bmp1").width == 64 && metas("bmp1").height == 8)
    // fallbacks stay on the deterministic stub
    val stubJunk = Multimodal.decodeStub("junk", "image/jpeg", Array[Byte](1, 2, 3, 4, 5))
    assert(metas("junk").width == stubJunk.width && metas("junk").height == stubJunk.height)
    val stubWav = Multimodal.decodeStub("wav1", "audio/wav", Array[Byte](9, 9, 9, 9))
    assert(metas("wav1").width == stubWav.width)
    // decodable images take the REAL pixel resize path: the output is an
    // 8×8 BMP (itself decodable), not raw newW·newH stub bytes
    val resized = Multimodal.resizeEntries(df.filter($"key" === "png1"), 8, 8)
      .select("data").head().getAs[Array[Byte]](0)
    assert(Multimodal.decodeGrayPixels(resized)
      .exists { case (w, h, _) => w == 8 && h == 8 })
  }

  /** Canonical 44-byte-header PCM WAV with an optional pre-`fmt ` chunk to
    * exercise the RIFF chunk walk.
    */
  private def encodeWav(rate: Int, channels: Int, bits: Int, dataBytes: Int,
      leadingJunkChunk: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    val junk = if (leadingJunkChunk) 8 + 6 else 0 // "LIST" + 6 payload bytes
    out.writeBytes("RIFF"); le32(36 + junk + dataBytes); out.writeBytes("WAVE")
    if (leadingJunkChunk) { out.writeBytes("LIST"); le32(6); out.write(new Array[Byte](6)) }
    val byteRate = rate * channels * bits / 8
    out.writeBytes("fmt "); le32(16)
    le16(1); le16(channels); le32(rate); le32(byteRate)
    le16(channels * bits / 8); le16(bits)
    out.writeBytes("data"); le32(dataBytes); out.write(new Array[Byte](dataBytes))
    bos.toByteArray
  }

  test("audio/wav payloads decode REAL sample rate/channels/duration from the RIFF header") {
    // 16 kHz stereo 16-bit, 32000 data bytes → byteRate 64000 → 500 ms
    val wav = encodeWav(16000, 2, 16, 32000)
    assert(Multimodal.decodeWav(wav).contains((16000, 2, 16, 500000L)))
    // chunk walk skips a leading non-fmt chunk by declared size
    val wav2 = encodeWav(44100, 1, 8, 44100, leadingJunkChunk = true)
    assert(Multimodal.decodeWav(wav2).contains((44100, 1, 8, 1000000L)))
    // non-RIFF and truncated payloads are None, not exceptions
    assert(Multimodal.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeWav("RIFFxxxxWAVE".getBytes ++ new Array[Byte](40)).isEmpty)
    // through decode(): width carries the sample rate, height the millis
    val m = Multimodal.decode("a1", "audio/wav", wav)
    assert(m.width == 16000 && m.height == 500 && m.nChannels == 2)
    // non-WAV audio falls back to the stub
    val ogg = Multimodal.decode("a2", "audio/ogg", Array[Byte](79, 103, 103, 83))
    assert(ogg == Multimodal.decodeStub("a2", "audio/ogg", Array[Byte](79, 103, 103, 83)))
  }

  /** Minimal ISO-BMFF: ftyp + moov{mvhd v0, trak{tkhd}} — no mdat needed,
    * the parser is header-only by contract.
    */
  private def encodeMp4(w: Int, h: Int, timescale: Int, duration: Int,
      tkhdV1: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(b)
      o.writeInt(8 + payload.length); o.writeBytes(typ); o.write(payload)
      b.toByteArray
    }
    val mvhd = {
      val b = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(b)
      o.writeInt(0)             // version 0 + flags
      o.writeInt(0); o.writeInt(0) // creation, modification
      o.writeInt(timescale); o.writeInt(duration)
      o.write(new Array[Byte](80)) // rate/volume/reserved/matrix/predefined/next_track
      box("mvhd", b.toByteArray)
    }
    val tkhd = {
      val b = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(b)
      if (tkhdV1) {
        o.writeInt(0x01000000)  // version 1
        o.writeLong(0L); o.writeLong(0L) // creation, modification
        o.writeInt(1); o.writeInt(0)     // track id, reserved
        o.writeLong(duration.toLong)
      } else {
        o.writeInt(0)           // version 0 + flags
        o.writeInt(0); o.writeInt(0)
        o.writeInt(1); o.writeInt(0)
        o.writeInt(duration)
      }
      o.write(new Array[Byte](8))  // reserved
      o.writeShort(0); o.writeShort(0); o.writeShort(0); o.writeShort(0)
      o.write(new Array[Byte](36)) // matrix
      o.writeInt(w << 16); o.writeInt(h << 16) // 16.16 fixed
      box("tkhd", b.toByteArray)
    }
    out.write(box("ftyp", "isomiso2".getBytes))
    out.write(box("moov", mvhd ++ box("trak", tkhd)))
    bos.toByteArray
  }

  test("video/mp4 payloads decode REAL pixel dims and duration from the box tree") {
    // 640×360, timescale 1000, duration 2500 → 2.5 s
    val mp4 = encodeMp4(640, 360, 1000, 2500)
    assert(Multimodal.decodeMp4(mp4).contains((640, 360, 1, 2500000L)))
    // v1 tkhd has the 64-bit times layout — width sits 12 bytes later
    val mp4v1 = encodeMp4(1920, 1080, 90000, 90000, tkhdV1 = true)
    assert(Multimodal.decodeMp4(mp4v1).contains((1920, 1080, 1, 1000000L)))
    // through decode(): real dims, nChannels carries the track count
    val m = Multimodal.decode("v1", "video/mp4", mp4)
    assert(m.width == 640 && m.height == 360 && m.nChannels == 1)
    // truncated / non-BMFF payloads fall back to the stub, never throw
    assert(Multimodal.decodeMp4(Array[Byte](0, 0, 0, 1)).isEmpty)
    assert(Multimodal.decodeMp4(mp4.take(20)).isEmpty)
    val junk = Multimodal.decode("v2", "video/webm", Array[Byte](1, 2, 3))
    assert(junk == Multimodal.decodeStub("v2", "video/webm", Array[Byte](1, 2, 3)))
  }

  test("multi-frame GIF round-trip is pixel-exact and frame-order-preserving") {
    val rnd = new scala.util.Random(7)
    val frames = Seq.fill(4)(Array.fill(16 * 16)(rnd.nextInt(256)))
    val gif = Multimodal.encodeGifGray(16, 16, frames)
    // it IS a GIF by signature, and the header decode path sees its dims
    assert(gif.take(3).map(_.toChar).mkString == "GIF")
    assert(Multimodal.decodeImage(gif).exists { case (w, h, _) => w == 16 && h == 16 })
    val back = Multimodal.decodeGifFrames(gif)
    assert(back.length == 4, s"expected 4 frames, got ${back.length}")
    back.zip(frames).zipWithIndex.foreach { case (((w, h, g), want), f) =>
      assert(w == 16 && h == 16)
      assert(g.sameElements(want), s"frame $f pixels drifted through the codec")
    }
    // single-frame formats decode as one frame through the same API
    val bmp = Multimodal.encodeBmpGray(16, 16, frames.head)
    val one = Multimodal.decodeGifFrames(bmp)
    assert(one.length == 1 && one.head._3.sameElements(frames.head))
    // junk yields Nil, never throws
    assert(Multimodal.decodeGifFrames(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("videoFrameHashes = per-frame (aHash, dHash) of the planted matrices") {
    val rnd = new scala.util.Random(11)
    val frames = Seq.fill(3)(Array.fill(16 * 16)(rnd.nextInt(256)))
    val hs = Multimodal.videoFrameHashes(Multimodal.encodeGifGray(16, 16, frames))
    assert(hs.length == 3)
    hs.zip(frames).foreach { case ((ah, dh), g) =>
      assert(ah == Multimodal.aHash64(16, 16, g), "aHash drifted through the codec")
      assert(dh == Multimodal.dHash64(16, 16, g), "dHash drifted through the codec")
    }
    // identical frames hash identically; a one-pixel flip that crosses the
    // mean boundary flips the aHash (the hashes genuinely read pixels)
    assert(hs.toSet.size == 3, "independent random frames collided")
  }

  test("WAV PCM encode → JDK audio decode round-trips samples exactly") {
    val rnd = new scala.util.Random(23)
    // extremes, zeros, odd lengths — PCM must be bit-lossless
    val cases = Seq(
      Array(0, 1, -1, 32767, -32768, 12345, -12345),
      Array(0),
      Array.fill(1001)(rnd.nextInt(65536) - 32768))
    for (samples <- cases) {
      val wav = Multimodal.encodeWavPcm16(8000, samples)
      val dec = Multimodal.decodeWavSamples(wav)
      assert(dec.isDefined, s"JDK codec rejected a ${samples.length}-sample WAV")
      val (rate, got) = dec.get
      assert(rate == 8000)
      assert(got.sameElements(samples), "samples drifted through the codec")
    }
    // the header-level reader agrees with the payload we wrote
    val hdr = Multimodal.decodeWav(Multimodal.encodeWavPcm16(8000, Array.fill(8000)(5)))
    assert(hdr.contains((8000, 1, 16, 1000000L)), s"header decode: $hdr")
    // junk yields None, never throws
    assert(Multimodal.decodeWavSamples(Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("audioFingerprint64: positional window energies above the floor mean set bits") {
    // n=4 → sample i lands in window 16·i (the (i·64)/n arithmetic);
    // energies e0=100, e16=200, e32=0, e48=50, mean = 350/64 = 5 →
    // windows 0/16/48 exceed it, window 32 (zero) does not
    val h = Multimodal.audioFingerprint64(Array(100, -200, 0, 50))
    assert(h == ((1L << 0) | (1L << 16) | (1L << 48)), s"got ${h.toBinaryString}")
    // n > 64: windows tile near-equally; a flat signal sets NO bits
    // (every window energy equals the mean exactly — strict >)
    assert(Multimodal.audioFingerprint64(Array.fill(128)(7)) == 0L)
    // Int.MinValue-free: |−32768| stays exact in the Long accumulator
    val extreme = Multimodal.audioFingerprint64(Array.fill(64)(-32768))
    assert(extreme == 0L) // all windows equal → none strictly above mean
    assert(Multimodal.audioFingerprint64(Array.emptyIntArray) == 0L)
    // the fingerprint survives the REAL codec round-trip unchanged
    val samples = Array.tabulate(300)(i => (i * 2731) % 65536 - 32768)
    val wav = Multimodal.encodeWavPcm16(8000, samples)
    val (_, dec) = Multimodal.decodeWavSamples(wav).get
    assert(Multimodal.audioFingerprint64(dec) ==
      Multimodal.audioFingerprint64(samples))
  }

  test("videoFeatures: means/motion/histogram replay from the planted frames") {
    // two flat frames (10, 30) + a ramp + a copy of the ramp: means are
    // exact, motion = Σ|Δ| across adjacent frames, hist counts gray>>5
    val flat10 = Array.fill(256)(10)
    val flat30 = Array.fill(256)(30)
    val ramp = Array.tabulate(256)(_ % 256)
    val (means, motion, hist) =
      Multimodal.videoFeatures(16, 16, Seq(flat10, flat30, ramp, ramp.clone()))
    assert(means == Seq(10L, 30L, (0 until 256).sum / 256L, (0 until 256).sum / 256L))
    val rampDelta = (0 until 256).map(i => math.abs((i % 256) - 30).toLong).sum
    assert(motion == 256L * 20 + rampDelta + 0L)
    // hist: flat10 → bucket 0 ×256; flat30 → bucket 0 ×256; each ramp
    // spreads 32 per bucket
    assert(hist(0) == 256L + 256L + 32L + 32L)
    assert((1 until 8).forall(g => hist(g) == 64L))
    assert(hist.sum == 4L * 256)
  }

  test("resize survives a crafted header declaring dims whose product overflows Int") {
    // 131072 × 32768 = 2^32 — srcY*w wraps negative in Int arithmetic; the
    // Long index + bounds check must zero-fill instead of throwing AIOOBE
    val tiny = Array.fill[Byte](100)(7)
    val out = Multimodal.resizeStub(tiny, 131072, 32768, 4, 4)
    assert(out.length == 16)
    assert(out(0) == 7)            // idx 0 is in range
    assert(out(15) == 0)           // out-of-range source positions zero-fill
  }

  test("AVI DIB round-trip is pixel-exact; header carries real timing metadata") {
    val rnd = new scala.util.Random(13)
    // 13 wide exercises the 4-byte DIB row padding (rowSize 16 ≠ w)
    val frames = Seq.fill(5)(Array.fill(13 * 7)(rnd.nextInt(256)))
    val avi = Multimodal.encodeAviGray(13, 7, 12, frames)
    assert(avi.take(4).map(_.toChar).mkString == "RIFF" &&
      avi.slice(8, 12).map(_.toChar).mkString == "AVI ")
    val meta = Multimodal.decodeAviMeta(avi)
    assert(meta.contains((13, 7, 5, 83333L, 5L * 83333L)),
      s"avih header fields drifted: $meta")
    val back = Multimodal.decodeAviFrames(avi)
    assert(back.length == 5, s"expected 5 frames, got ${back.length}")
    back.zip(frames).zipWithIndex.foreach { case (((w, h, g), want), f) =>
      assert(w == 13 && h == 7)
      assert(g.sameElements(want), s"frame $f pixels drifted through the DIB codec")
    }
    // the decode() dispatch reads the AVI header for video/* payloads
    val m = Multimodal.decode("v1", "video/x-msvideo", avi)
    assert(m.width == 13 && m.height == 7 && m.nChannels == 5)
    // junk / non-AVI yield None/Nil, never throw
    assert(Multimodal.decodeAviMeta(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeAviFrames(Multimodal.encodeBmpGray(4, 4, Array.fill(16)(9))).isEmpty)
  }

  test("npy round-trip is bit-exact for int64 and float32 tensors") {
    val longs = Array.tabulate(256L.toInt)(i => (i * 2654435761L) - 123456789L)
    val npyL = Multimodal.encodeNpyLongs(Seq(16, 16), longs)
    assert((npyL(0) & 0xFF) == 0x93 && npyL.slice(1, 6).map(_.toChar).mkString == "NUMPY")
    // numpy's own spec: magic + length field + padded dict ≡ 0 mod 64,
    // i.e. the payload offset is 64-aligned
    assert(Multimodal.decodeNpyHeader(npyL).exists(_._3 % 64 == 0),
      "npy payload offset must be 64-byte aligned")
    assert(Multimodal.decodeNpyHeader(npyL).exists { case (d, s, _) =>
      d == "<i8" && s == Seq(16, 16)
    })
    val decL = Multimodal.decodeNpyLongs(npyL)
    assert(decL.exists { case (s, v) => s == Seq(16, 16) && v.sameElements(longs) })
    // float32: IEEE bytes pass through untouched (incl. negatives, denormals)
    val floats = Array(0.0f, -1.5f, 3.14159f, Float.MinPositiveValue, -0.0f, 1e30f)
    val npyF = Multimodal.encodeNpyFloats(Seq(6), floats)
    val decF = Multimodal.decodeNpyFloats(npyF)
    assert(decF.exists { case (s, v) =>
      s == Seq(6) && v.zip(floats).forall { case (a, b) =>
        java.lang.Float.floatToRawIntBits(a) == java.lang.Float.floatToRawIntBits(b)
      }
    })
    // dtype dispatch: the long decoder rejects an f4 payload and vice versa
    assert(Multimodal.decodeNpyLongs(npyF).isEmpty)
    assert(Multimodal.decodeNpyFloats(npyL).isEmpty)
    // decode() surfaces the tensor header for the reference's content type
    val m = Multimodal.decode("t1", "application/x-npy", npyL)
    assert(m.width == 16 && m.height == 16 && m.nChannels == 8)
    // junk / truncated payloads fall back, never throw
    assert(Multimodal.decodeNpyHeader(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeNpyLongs(npyL.take(50)).isEmpty)
    // crafted shapes must fall to None, never throw: a negative dim would
    // pass a naive bounds check into a negative array allocation, and an
    // Int-overflowing dim product would wrap past it into AIOOBE
    def withShape(src: Array[Byte], shape: String): Array[Byte] = {
      val s = new String(src, java.nio.charset.StandardCharsets.ISO_8859_1)
      val i = s.indexOf("'shape':")
      val j = s.indexOf(")", i)
      (s.substring(0, i) + s"'shape': ($shape" + s.substring(j))
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    assert(Multimodal.decodeNpyLongs(withShape(npyL, "-1,")).isEmpty)
    assert(Multimodal.decodeNpyLongs(withShape(npyL, "16, 16, 16777216")).isEmpty)
    assert(Multimodal.decodeNpyFloats(withShape(npyF, "-6,")).isEmpty)
  }

  test("frameSampleAvi returns every k-th decoded frame as a standalone BMP") {
    val frames = (0 until 6).map(f => Array.fill(16 * 16)(f * 40))
    val avi = Multimodal.encodeAviGray(16, 16, 10, frames)
    val sampled = Multimodal.frameSampleAvi(avi, 3) // k = ceil(6/3) = 2
    assert(sampled.length == 3)
    sampled.zip(Seq(0, 2, 4)).foreach { case (bmp, f) =>
      val dec = Multimodal.decodeGrayPixels(bmp)
      assert(dec.exists { case (w, h, g) =>
        w == 16 && h == 16 && g.sameElements(frames(f))
      }, s"sampled frame $f should be the planted matrix as a decodable BMP")
    }
    // non-AVI payloads fall back to Nil (callers then use the stub)
    assert(Multimodal.frameSampleAvi(Array[Byte](1, 2, 3), 2).isEmpty)
  }

  test("flat gray frames round-trip bit-exact through the JDK JPEG codec") {
    // the exactness multimodal_mp4_features leans on: a FLAT frame is
    // DC-only (every AC coefficient zero), and the JDK encoder's default
    // quality reproduces the DC level exactly for all 8 planted buckets
    for (k <- 0 until 8) {
      val v = 16 + 32 * k
      val jpg = Multimodal.jpegEncodeGray(16, 16, Array.fill(256)(v))
      assert((jpg(0) & 0xFF) == 0xFF && (jpg(1) & 0xFF) == 0xD8, "not a JPEG (SOI)")
      val dec = Multimodal.decodeGrayPixels(jpg)
      assert(dec.exists { case (w, h, g) =>
        w == 16 && h == 16 && g.forall(_ == v)
      }, s"flat level $v drifted through the JPEG round-trip: " +
        dec.map(_._3.distinct.take(5).mkString(",")).getOrElse("decode failed"))
    }
    // non-flat content is lossy but bounded — the bucket contract's ±15
    // margin rests on this staying an order of magnitude smaller
    val grad = Array.tabulate(256)(i => i % 256)
    val back = Multimodal.decodeGrayPixels(Multimodal.jpegEncodeGray(16, 16, grad))
    assert(back.exists { case (_, _, g) =>
      g.zip(grad).map { case (a, b) => math.abs(a - b) }.max < 8
    }, "gradient error exceeded the documented JPEG drift bound")
  }

  test("MP4 MJPEG mux/demux round-trip: sample table, dims, timing, exact frames") {
    val vals = Seq(48, 144, 16, 240)
    val frames = vals.map(v => Array.fill(256)(v))
    val mp4 = Multimodal.encodeMp4Mjpeg(16, 16, 90000, 3750, frames)
    assert(mp4.slice(4, 8).map(_.toChar).mkString == "ftyp")
    // demux: dims from the stsd 'jpeg' entry, timing from mvhd, one
    // sample per planted frame sliced via stsc/stsz/stco
    val Some((w, h, ts, dur, samples)) = Multimodal.decodeMp4Samples(mp4)
    assert(w == 16 && h == 16 && ts == 90000L && dur == 15000L)
    assert(samples.length == 4)
    samples.foreach(s => assert((s(0) & 0xFF) == 0xFF && (s(1) & 0xFF) == 0xD8,
      "each demuxed sample must be a standalone JPEG"))
    // the header path reads the same container: dims + truncating µs math
    val meta = Multimodal.decodeMp4(mp4)
    assert(meta.contains((16, 16, 1, 15000L * 1000000L / 90000L)),
      s"mvhd/tkhd header fields drifted: $meta")
    // full frame decode through the JDK JPEG codec is exact for flat frames
    val dec = Multimodal.decodeMp4Frames(mp4)
    assert(dec.length == 4)
    dec.zip(vals).zipWithIndex.foreach { case (((fw, fh, g), v), f) =>
      assert(fw == 16 && fh == 16)
      assert(g.forall(_ == v), s"frame $f drifted through the MJPEG round-trip")
    }
    // junk / truncated / crafted payloads yield None or Nil, never throw
    assert(Multimodal.decodeMp4Samples(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeMp4Samples(mp4.take(mp4.length / 2)).isEmpty)
    assert(Multimodal.decodeMp4Frames(Multimodal.encodeBmpGray(4, 4, Array.fill(16)(9))).isEmpty)
    // crafted stsz count near 2^31: the allocation cap + bounds check must
    // reject it before `new Array` fires
    val crafted = mp4.clone()
    val stszAt = crafted.sliding(4).indexWhere(_.sameElements("stsz".getBytes))
    assert(stszAt > 0)
    val cntAt = stszAt + 4 + 4 + 4 // fourcc, version/flags, fixed-size field
    crafted(cntAt) = 0x7F.toByte; crafted(cntAt + 1) = 0xFF.toByte
    crafted(cntAt + 2) = 0xFF.toByte; crafted(cntAt + 3) = 0xFF.toByte
    assert(Multimodal.decodeMp4Samples(crafted).isEmpty,
      "a crafted u32 sample count must fall to None, not allocate")
  }

  test("frameSample routes MJPEG MP4 through the real demux") {
    val frames = (0 until 6).map(f => Array.fill(256)(16 + 32 * (f % 8)))
    val mp4 = Multimodal.encodeMp4Mjpeg(16, 16, 90000, 3750, frames)
    val sampled = Multimodal.frameSample(mp4, 3) // k = ceil(6/3) = 2
    assert(sampled.length == 3)
    sampled.zip(Seq(0, 2, 4)).foreach { case (jpg, f) =>
      val dec = Multimodal.decodeGrayPixels(jpg)
      assert(dec.exists { case (w, h, g) =>
        w == 16 && h == 16 && g.forall(_ == 16 + 32 * (f % 8))
      }, s"sampled frame $f should be the planted flat JPEG")
    }
    // payloads with no decodable track still fall to the byte-slice stub
    val junk = Array.tabulate[Byte](64)(_.toByte)
    assert(Multimodal.frameSample(junk, 2).length == 2)
  }
}
