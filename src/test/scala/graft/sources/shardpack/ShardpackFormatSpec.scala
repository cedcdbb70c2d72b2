package graft.sources.shardpack

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import ShardpackFormat._

/** Codec-level tests mirroring the reference's writer test assertions
  * (`/root/reference/src/shard/writer.rs:126-381`) with the SURVEY.md §3.4
  * defects fixed, plus the FIXTURES.md §B corruption/codec matrix and
  * scalacheck round-trip properties.
  */
class ShardpackFormatSpec extends AnyFunSuite {

  /** Deterministic scalacheck sampling (no scalatest-scalacheck bridge in
    * the offline dependency set): fixed seeds, explicit loop.
    */
  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def entry(name: String, data: Array[Byte], enc: String = "",
      ctype: String = "application/octet-stream") =
    Entry(name, ctype, enc, data)

  private def rec(key: String, entries: Entry*) =
    Record(key, Array.emptyByteArray, entries)

  /** Write records to an in-memory shard, return the file bytes. */
  private def writeShard(records: Seq[Record], codec: String = Codec.None,
      shardMeta: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new ShardFileWriter(bos, shardMeta)
    records.foreach(r => w.append(encodeRecord(r, codec)))
    w.finish()
    bos.toByteArray
  }

  private def readShard(bytes: Array[Byte], verify: Boolean = true): Seq[Record] = {
    val footer = readFooter(bytes.length.toLong,
      (pos, len) => bytes.slice(pos.toInt, pos.toInt + len))
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    (0 until footer.offsets.length).map(_ => decodeRecord(in, wantEntryData = true, verify))
  }

  // ── reference test ports (writer.rs) ──

  test("store-if-smaller: incompressible entries fall back to raw storage") {
    val rnd = new scala.util.Random(7)
    val incompressible = Array.fill[Byte](4096)(rnd.nextInt().toByte)
    val compressible = Array.fill[Byte](4096)('a'.toByte)
    val rec = Record("k", null, Seq(
      Entry("blob.bin", "application/octet-stream", "", incompressible),
      Entry("text.txt", "text/plain", "", compressible)))
    val enc = encodeRecord(rec, Codec.Gzip)
    // random bytes stored raw (codec can't shrink them — must not inflate);
    // the repetitive entry still compresses
    val back = decodeRecord(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(enc)), verify = true)
    assert(back.entries(0).data.sameElements(incompressible))
    assert(back.entries(1).data.sameElements(compressible))
    // encoded record is smaller than raw-gzip-inflation would be: the
    // incompressible entry contributes ~its raw length, not gzip(raw) > raw
    assert(enc.length < incompressible.length + 200 + compressible.length,
      s"encoded ${enc.length} suggests the incompressible entry was inflated")
  }

  test("fresh writer invariants (writer.rs:204-211)") {
    val bos = new ByteArrayOutputStream()
    val w = new ShardFileWriter(bos, Array.emptyByteArray)
    assert(w.bytesWritten == 0 && w.recordCount == 0)
  }

  test("offset accounting after writes (writer.rs:213-232, 282-314)") {
    val bos = new ByteArrayOutputStream()
    val w = new ShardFileWriter(bos, Array.emptyByteArray)
    val r1 = encodeRecord(rec("k1", entry("a", "hello".getBytes)), Codec.None)
    val r2 = encodeRecord(rec("k2", entry("b", "world!".getBytes)), Codec.None)
    w.append(r1)
    assert(w.bytesWritten == r1.length)
    w.append(r2)
    assert(w.bytesWritten == r1.length + r2.length) // monotonic offsets
    assert(w.recordCount == 2)
    w.finish()
    val footer = readFooter(bos.toByteArray.length.toLong, (p, l) =>
      bos.toByteArray.slice(p.toInt, p.toInt + l))
    assert(footer.offsets.toSeq == Seq(0L, r1.length.toLong))
  }

  test("stored checksum matches independent SHA-256 (writer.rs:358-380)") {
    val data = "checksum me".getBytes
    val encoded = encodeRecord(rec("k", entry("f", data)), Codec.None)
    // entry checksum lives 32 bytes before the payload at the end of the block
    val stored = encoded.slice(encoded.length - data.length - 32, encoded.length - data.length)
    assert(stored.sameElements(sha256(data)))
  }

  // ── FIXTURES.md §B matrix ──

  test("empty shard: footer-only file, valid open, count=0") {
    val bytes = writeShard(Seq.empty)
    assert(readShard(bytes).isEmpty)
  }

  test("record with metadata round-trips metadata bytes") {
    val meta = """{"a":1}""".getBytes(StandardCharsets.UTF_8)
    val r = Record("k", meta, Seq(entry("f", "x".getBytes)))
    val out = readShard(writeShard(Seq(r)))
    assert(out.head.metadata.sameElements(meta))
  }

  test("sequential read equals random access order") {
    val records = (0 until 50).map(i => rec(f"key$i%03d", entry("f", s"payload-$i".getBytes)))
    val bytes = writeShard(records)
    val footer = readFooter(bytes.length.toLong, (p, l) => bytes.slice(p.toInt, p.toInt + l))
    // random access via offsets
    val random = footer.offsets.map { off =>
      val in = new DataInputStream(new ByteArrayInputStream(bytes, off.toInt, bytes.length - off.toInt))
      decodeRecord(in)
    }
    val sequential = readShard(bytes)
    assert(random.map(_.key).toSeq == sequential.map(_.key))
    assert(sequential.map(_.key) == records.map(_.key))
  }

  test("codec round-trip: each codec × payload shapes incl. >3x ratios") {
    val rnd = new scala.util.Random(42)
    val oneMiB = Array.fill(1 << 20)(rnd.nextInt().toByte)
    val compressible = Array.fill(1 << 20)('a'.toByte) // ratio >> 3x (bucket.rs:52-55 defect)
    val payloads = Seq(Array.emptyByteArray, Array[Byte](1), oneMiB, compressible)
    for (codec <- Codec.All; p <- payloads) {
      val stored = Codec.compress(codec, p)
      val back = Codec.decompress(codec, stored, p.length)
      assert(back.sameElements(p), s"codec=$codec len=${p.length}")
    }
  }

  test("full-record compression codecs round-trip through a shard") {
    for (codec <- Codec.All) {
      val records = (0 until 5).map(i => rec(s"k$i", entry("f", ("data" * 100 + i).getBytes)))
      val out = readShard(writeShard(records, codec))
      assert(out.map(r => new String(r.entries.head.data)) ==
        records.map(r => new String(r.entries.head.data)), s"codec=$codec")
      if (codec != Codec.None) assert(out.head.entries.head.encoding == codec)
    }
  }

  test("flipped byte in data region -> checksum error (checksum.rs:22-29)") {
    val bytes = writeShard(Seq(rec("k", entry("f", "sensitive-payload".getBytes))))
    // the single record's payload is the last bytes before the footer
    val footer = readFooter(bytes.length.toLong, (p, l) => bytes.slice(p.toInt, p.toInt + l))
    val indexStart = bytes.length - FooterTailLen -
      (8 + 8 * footer.offsets.length + 4 + footer.shardMetadata.length)
    val corrupt = bytes.clone()
    corrupt(indexStart - 2) = (corrupt(indexStart - 2) ^ 0x5A).toByte
    intercept[Exception](readShard(corrupt))
    assert(readShard(bytes).nonEmpty) // pristine copy still reads
  }

  test("flipped byte in footer magic -> invalid-file error, no crash") {
    val bytes = writeShard(Seq(rec("k", entry("f", "x".getBytes))))
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0xFF).toByte
    val e = intercept[IllegalArgumentException](readShard(corrupt))
    assert(e.getMessage.contains("magic"))
  }

  test("truncated file -> clean error") {
    val bytes = writeShard(Seq(rec("k", entry("f", "x".getBytes))))
    intercept[IllegalArgumentException](readShard(bytes.take(10)))
  }

  test("shard metadata round-trips") {
    val meta = """{"dataset":"train"}""".getBytes
    val bytes = writeShard(Seq(rec("k", entry("f", "x".getBytes))), shardMeta = meta)
    val footer = readFooter(bytes.length.toLong, (p, l) => bytes.slice(p.toInt, p.toInt + l))
    assert(new String(footer.shardMetadata) == """{"dataset":"train"}""")
  }

  test("header-only decode skips payloads but keeps names/types") {
    val bytes = writeShard(Seq(rec("k", entry("img.jpg", Array.fill(1000)(7.toByte), "", "image/jpeg"))))
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val r = decodeRecord(in, wantEntryData = false, verify = false)
    assert(r.entries.head.fileName == "img.jpg")
    assert(r.entries.head.contentType == "image/jpeg")
    assert(r.entries.head.data == null)
  }

  test("decodeKey reads only the key") {
    val encoded = encodeRecord(rec("the/key", entry("f", "payload".getBytes)), Codec.Gzip)
    val body = encoded.drop(4)
    assert(decodeKey(body) == "the/key")
  }

  // ── scalacheck properties (FIXTURES.md §B generators) ──

  private val genEntry: Gen[Entry] = for {
    name <- Gen.alphaNumStr.map(_.take(20)).suchThat(_.nonEmpty)
    ctype <- Gen.oneOf("image/jpeg", "application/json", "text/plain", "")
    data <- Gen.choose(0, 64 * 1024).flatMap(n => Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
  } yield Entry(name, ctype, "", data)

  private val genRecord: Gen[Record] = for {
    key <- Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('/'), Gen.const('é')))
      .map(_.mkString.take(64))
    nEntries <- Gen.choose(0, 8)
    entries <- Gen.listOfN(nEntries, genEntry)
    meta <- Gen.oneOf(Gen.const(Array.emptyByteArray),
      Gen.containerOfN[Array, Byte](16, Gen.choose(Byte.MinValue, Byte.MaxValue)))
  } yield Record(key, meta, entries)

  test("property: streaming decode with key/entry filters equals filtered block decode") {
    for {
      records <- samples(Gen.listOfN(5, genRecord), 20)
      codec <- Seq(Codec.None, Codec.Lz4)
    } {
      val bytes = writeShard(records, codec)
      val allNames = records.flatMap(_.entries.map(_.fileName)).distinct
      // filter sets: everything, nothing matching, half the names, None
      val filters: Seq[Option[Set[String]]] = Seq(
        None, Some(allNames.toSet), Some(Set("no-such-entry")),
        Some(allNames.take(allNames.size / 2).toSet))
      val keyFilters: Seq[Option[Set[String]]] =
        Seq(None, Some(records.map(_.key).take(2).toSet), Some(Set.empty[String]))
      for (ef <- filters; kf <- keyFilters) {
        val in = new DataInputStream(new ByteArrayInputStream(bytes))
        val streamed = (0 until records.size).flatMap(_ =>
          decodeRecordStreaming(in, kf, wantEntryData = true, verify = true, ef))
        val expected = records
          .filter(r => kf.forall(_.contains(r.key)))
          .map(r => r.copy(entries = r.entries.filter(e => ef.forall(_.contains(e.fileName)))))
        assert(streamed.size == expected.size, s"ef=$ef kf=$kf")
        streamed.zip(expected).foreach { case (got, want) =>
          assert(got.key == want.key)
          assert(got.entries.map(_.fileName) == want.entries.map(_.fileName))
          got.entries.zip(want.entries).foreach { case (ge, we) =>
            assert(ge.data.sameElements(we.data))
          }
        }
      }
    }
  }

  test("property: arbitrary record lists round-trip identically (every codec)") {
    for {
      records <- samples(Gen.listOfN(5, genRecord), 20)
      codec <- Codec.All
    } {
      val out = readShard(writeShard(records, codec))
      assert(out.size == records.size)
      out.zip(records).foreach { case (got, want) =>
        assert(got.key == want.key)
        assert(got.metadata.sameElements(want.metadata))
        assert(got.entries.size == want.entries.size)
        got.entries.zip(want.entries).foreach { case (ge, we) =>
          assert(ge.fileName == we.fileName)
          assert(ge.contentType == we.contentType)
          assert(ge.data.sameElements(we.data))
        }
      }
    }
  }

  test("KeyOrd matches Spark's UTF8String ordering, not Java's UTF-16 order") {
    import org.apache.spark.unsafe.types.UTF8String
    def sparkCmp(a: String, b: String) =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    // the disagreement case from the envelope-pruning advisory: a
    // supplementary-plane char (U+1F600, UTF-16 surrogates D83D DE00) vs a
    // private-use BMP char (U+E000). UTF-16 units say U+1F600 < U+E000;
    // UTF-8 bytes (F0... vs EE...) say U+1F600 > U+E000.
    val smiley = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    assert(smiley < pua, "precondition: Java order disagrees")
    assert(KeyOrd.gt(smiley, pua) && sparkCmp(smiley, pua) > 0)
    // exhaustive sign agreement over a tricky alphabet (each UTF-8 width,
    // surrogate-range boundaries, max code point)
    val alphabet: Seq[String] = Seq("", "a", "\u0000", "\u007F", "\u00FF",
      "\u07FF", "\u0800", "\uD7FF", pua, "\uFFFD", "\uFFFF", smiley,
      new String(Character.toChars(0x10000)),
      new String(Character.toChars(0x10FFFF)))
    for (x <- alphabet; y <- alphabet; p <- Seq("", "a", smiley)) {
      val (a, b) = (p + x, p + y)
      assert(Integer.signum(KeyOrd.compare(a, b)) == Integer.signum(sparkCmp(a, b)),
        s"KeyOrd disagrees with UTF8String on ${a.codePoints.toArray.toSeq} vs " +
          s"${b.codePoints.toArray.toSeq}")
    }
  }
}
