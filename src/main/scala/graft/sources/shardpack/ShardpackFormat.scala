package graft.sources.shardpack

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Binary codec for the shardpack container format.
  *
  * Implements the semantics specified in the reference's format spec
  * (`/root/reference/docs/draft.md`): immutable shard files of sequential
  * record blocks, each record = key + optional metadata + N named file
  * entries with MIME content types (`docs/draft.md:57-94`); a self-index at
  * EOF (`[count][offsets…][shard metadata][magic]`, `docs/draft.md:100-122`)
  * giving O(1) random record access after one footer read
  * (`docs/draft.md:124-127`); per-record integrity checksums
  * (`/root/reference/src/checksum.rs:15-29`); per-entry compression.
  *
  * Deliberate fixes over the reference implementation (SURVEY.md §3.4):
  *   - the stored-entry header carries the UNCOMPRESSED length, so lz4/zstd
  *     decode never guesses buffer sizes (`/root/reference/src/bucket.rs:52-55`
  *     guessed 3×);
  *   - checksums are computed AND verified per entry over uncompressed bytes
  *     (the reference verified over a whole decompressed shard,
  *     `/root/reference/src/bucket.rs:164`);
  *   - the index is actually written and read (the reference's
  *     `process_shard` stub never populated it,
  *     `/root/reference/src/index/bucket.rs:129-133`).
  *
  * All integers are big-endian (DataOutput). Layout:
  * {{{
  * shard      := record* footer
  * record     := recLen:u32 key:str16 metaLen:u32 meta:bytes nEntries:u16 entry*
  * entry      := name:str16 contentType:str16 codec:u8 rawLen:u32
  *               storedLen:u32 sha256:32B data:bytes[storedLen]
  * footer     := nRecords:u64 offset:u64* shardMetaLen:u32 shardMeta:bytes
  *               indexOffset:u64 magic:8B
  * str16      := len:u16 utf8-bytes
  * }}}
  * `recLen` counts the bytes after the length field, so a sequential reader
  * can skip a record without parsing it (streaming mode,
  * `docs/draft.md:213-218`); `indexOffset`+magic close the file so a reader
  * seeks `EOF-16` first (random-access mode).
  */
object ShardpackFormat {

  val Magic: Array[Byte] = "SPKGRAF1".getBytes(StandardCharsets.US_ASCII)
  val FooterTailLen: Int = 16 // indexOffset u64 + magic
  /** Shard roll threshold — matches the reference's `SHARD_SIZE`
    * (`/root/reference/src/shard/config.rs:1-7`).
    */
  val DefaultShardCap: Long = 256L * 1024 * 1024

  /** One named payload inside a record (`docs/draft.md:84-94`). `encoding` is
    * the on-disk codec name; `data` is always the UNCOMPRESSED payload at the
    * API boundary.
    */
  final case class Entry(fileName: String, contentType: String, encoding: String,
      data: Array[Byte])

  /** One sample (`docs/draft.md:76-81`). */
  final case class Record(key: String, metadata: Array[Byte], entries: Seq[Entry])

  final case class Footer(offsets: Array[Long], shardMetadata: Array[Byte])

  // ───────────────────────── codecs ─────────────────────────

  /** The reference's `CompressionType` declares None/Gzip/Lz4/Zstd/Snappy
    * but rejects Zstd and Snappy at runtime
    * (`/root/reference/src/bucket.rs:18-25,135,161`); here the full enum is
    * honored — zstd-jni and snappy-java ship with Spark.
    */
  object Codec {
    val None = "none"; val Gzip = "gzip"; val Lz4 = "lz4"; val Zstd = "zstd"
    val Snappy = "snappy"
    val All: Seq[String] = Seq(None, Gzip, Lz4, Zstd, Snappy)

    def id(name: String): Byte = name match {
      case None => 0; case Gzip => 1; case Lz4 => 2; case Zstd => 3
      case Snappy => 4
      case other => throw new IllegalArgumentException(s"Unsupported compression: $other")
    }
    def name(id: Byte): String = id match {
      case 0 => None; case 1 => Gzip; case 2 => Lz4; case 3 => Zstd
      case 4 => Snappy
      case other => throw new IllegalArgumentException(s"Unknown codec id: $other")
    }

    def compress(codec: String, raw: Array[Byte]): Array[Byte] = codec match {
      case None => raw
      case Gzip =>
        val bos = new ByteArrayOutputStream()
        val g = new GZIPOutputStream(bos); g.write(raw); g.close()
        bos.toByteArray
      case Lz4 =>
        net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor().compress(raw)
      case Zstd =>
        com.github.luben.zstd.Zstd.compress(raw)
      case Snappy =>
        org.xerial.snappy.Snappy.compress(raw)
      case other => throw new IllegalArgumentException(s"Unsupported compression: $other")
    }

    /** `rawLen` comes from the entry header — no guessed buffers. */
    def decompress(codec: String, stored: Array[Byte], rawLen: Int): Array[Byte] = codec match {
      case None => stored
      case Gzip =>
        val in = new GZIPInputStream(new ByteArrayInputStream(stored))
        val out = new Array[Byte](rawLen)
        var off = 0
        while (off < rawLen) {
          val n = in.read(out, off, rawLen - off)
          if (n < 0) throw new EOFException(s"gzip stream ended at $off, expected $rawLen")
          off += n
        }
        in.close(); out
      case Lz4 =>
        net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
          .decompress(stored, rawLen)
      case Zstd =>
        com.github.luben.zstd.Zstd.decompress(stored, rawLen)
      case Snappy =>
        org.xerial.snappy.Snappy.uncompress(stored)
      case other => throw new IllegalArgumentException(s"Unsupported compression: $other")
    }
  }

  def sha256(data: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(data)

  final class ChecksumMismatch(msg: String) extends RuntimeException(msg)

  // ──────────────────────── encoding ────────────────────────

  private def writeStr16(out: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(b.length <= 0xFFFF, s"string too long: ${b.length}")
    out.writeShort(b.length); out.write(b)
  }

  /** Encode one record block (header + compressed entries). The `codec`
    * applies to entries whose `encoding` is null/empty; an explicit
    * per-entry `encoding` wins (`docs/draft.md:90`).
    */
  def encodeRecord(rec: Record, codec: String): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    val out = new DataOutputStream(body)
    writeStr16(out, rec.key)
    // length -1 = NULL metadata (distinct from empty — the schema declares
    // metadata nullable and `WHERE metadata IS NULL` must round-trip)
    if (rec.metadata == null) out.writeInt(-1)
    else { out.writeInt(rec.metadata.length); out.write(rec.metadata) }
    require(rec.entries.size <= 0xFFFF, s"too many entries: ${rec.entries.size}")
    out.writeShort(rec.entries.size)
    rec.entries.foreach { e =>
      val explicit = e.encoding != null && e.encoding.nonEmpty
      val requested = if (explicit) e.encoding else codec
      val raw = if (e.data == null) Array.emptyByteArray else e.data
      val attempt = Codec.compress(requested, raw)
      // store-if-smaller: under the file-level DEFAULT codec, an
      // incompressible payload (already-compressed media, random bytes —
      // the common case for multimodal entries) falls back to raw storage
      // so the codec can never INFLATE an entry; an EXPLICIT per-entry
      // encoding is a caller contract and is always honored. The per-entry
      // codec byte makes either choice self-describing on read.
      val (enc, stored) =
        if (explicit || attempt.length < raw.length) (requested, attempt)
        else (Codec.None, raw)
      writeStr16(out, e.fileName)
      writeStr16(out, if (e.contentType == null) "" else e.contentType)
      out.writeByte(Codec.id(enc))
      out.writeInt(raw.length)
      out.writeInt(stored.length)
      out.write(sha256(raw))
      out.write(stored)
    }
    out.flush()
    val bytes = body.toByteArray
    val framed = new ByteArrayOutputStream(bytes.length + 4)
    val fout = new DataOutputStream(framed)
    fout.writeInt(bytes.length); fout.write(bytes); fout.flush()
    framed.toByteArray
  }

  def writeFooter(out: DataOutputStream, offsets: Seq[Long], shardMeta: Array[Byte],
      indexOffset: Long): Unit = {
    out.writeLong(offsets.size.toLong)
    offsets.foreach(out.writeLong)
    val m = if (shardMeta == null) Array.emptyByteArray else shardMeta
    out.writeInt(m.length); out.write(m)
    out.writeLong(indexOffset)
    out.write(Magic)
  }

  // ──────────────────────── decoding ────────────────────────

  private def readStr16(in: DataInputStream): String = {
    val n = in.readUnsignedShort()
    val b = new Array[Byte](n); in.readFully(b)
    new String(b, StandardCharsets.UTF_8)
  }

  private def readFully(in: DataInputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); in.readFully(b); b
  }

  /** Decode one record block from a stream positioned at its length prefix.
    *
    * @param wantEntryData decompress entry payloads (false = header-only,
    *   used when the `entries.data` column is pruned away)
    * @param verify re-hash uncompressed payloads against the stored SHA-256
    */
  def decodeRecord(in: DataInputStream, wantEntryData: Boolean = true,
      verify: Boolean = true, entryFilter: Option[Set[String]] = None): Record = {
    val recLen = in.readInt()
    val block = readFully(in, recLen)
    decodeRecordBody(block, wantEntryData, verify, entryFilter)
  }

  /** @param entryFilter partial read (`README.md:3`, `docs/draft.md:126`):
    *   entries whose `file_name` is not in the set are SKIPPED — bytes
    *   seeked past, never decompressed or checksummed, absent from the
    *   output list. None = all entries.
    */
  def decodeRecordBody(block: Array[Byte], wantEntryData: Boolean,
      verify: Boolean, entryFilter: Option[Set[String]] = None): Record = {
    val in = new DataInputStream(new ByteArrayInputStream(block))
    decodeAfterKey(in, readStr16(in), wantEntryData, verify, entryFilter)
  }

  /** Streaming record decode: consumes one record from a stream positioned
    * at its length prefix, SKIPPING unwanted bytes instead of buffering the
    * record block — a key-filtered miss skips the whole record body, and an
    * [[decodeRecordBody entryFilter]] miss skips that entry's stored bytes.
    * Skips larger than the read buffer become SEEKS on the underlying
    * stream, so a sidecar-only scan of multi-MB multimodal records never
    * reads the blob bytes at all — the I/O form of the spec's partial
    * loading (`docs/draft.md:126`), not just the CPU form.
    *
    * Returns None for a key-filtered miss (record fully skipped): a key
    * outside `keyFilter` or failing `keep` (the reader's pushed range and
    * sample).
    */
  def decodeRecordStreaming(in: DataInputStream, keyFilter: Option[Set[String]],
      wantEntryData: Boolean, verify: Boolean,
      entryFilter: Option[Set[String]],
      keep: String => Boolean = _ => true): Option[Record] = {
    val recLen = in.readInt()
    val key = readStr16(in)
    if (!keyFilter.forall(_.contains(key)) || !keep(key)) {
      skipFully(in, recLen - 2 - key.getBytes(StandardCharsets.UTF_8).length)
      None
    } else Some(decodeAfterKey(in, key, wantEntryData, verify, entryFilter))
  }

  /** The rest of a record whose key `in` has just yielded: metadata, then
    * the entry loop shared by the block and streaming decoders.
    */
  private def decodeAfterKey(in: DataInputStream, key: String, wantEntryData: Boolean,
      verify: Boolean, entryFilter: Option[Set[String]]): Record = {
    val metaLen = in.readInt()
    val meta = if (metaLen < 0) null else readFully(in, metaLen)
    val nEntries = in.readUnsignedShort()
    val entries = (0 until nEntries).flatMap { _ =>
      val name = readStr16(in)
      val ctype = readStr16(in)
      val codec = Codec.name(in.readByte())
      val rawLen = in.readInt()
      val storedLen = in.readInt()
      val checksum = readFully(in, 32)
      if (!entryFilter.forall(_.contains(name))) {
        skipFully(in, storedLen)
        None
      } else if (wantEntryData) {
        val stored = readFully(in, storedLen)
        val raw = Codec.decompress(codec, stored, rawLen)
        if (verify && !java.util.Arrays.equals(sha256(raw), checksum))
          throw new ChecksumMismatch(s"checksum mismatch for entry '$name' of record '$key'")
        Some(Entry(name, ctype, codec, raw))
      } else {
        skipFully(in, storedLen)
        Some(Entry(name, ctype, codec, null))
      }
    }
    Record(key, meta, entries)
  }

  private def skipFully(in: DataInputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s <= 0) throw new java.io.EOFException(
        s"unexpected EOF skipping $left of $n bytes")
      left -= s
    }
  }

  /** Read just the key of a record block (for pushed-down key filters) —
    * everything after the key is skipped, nothing is decompressed.
    */
  def decodeKey(block: Array[Byte]): String = {
    val in = new DataInputStream(new ByteArrayInputStream(block))
    readStr16(in)
  }

  /** Key + record metadata only — the vectorized payload-free scan path.
    * Entry headers and payload bytes are never touched.
    */
  def decodeKeyMeta(block: Array[Byte]): (String, Array[Byte]) = {
    val in = new DataInputStream(new ByteArrayInputStream(block))
    val key = readStr16(in)
    val metaLen = in.readInt()
    val meta = if (metaLen < 0) null else readFully(in, metaLen)
    (key, meta)
  }

  /** Parse the EOF index of a shard (`docs/draft.md:100-127`): seek to
    * `fileLen-16`, validate magic, then parse the index block.
    * `readAt(pos, len)` abstracts the underlying storage (Hadoop
    * FSDataInputStream in the DSv2 reader, byte arrays in tests).
    */
  def readFooter(fileLen: Long, readAt: (Long, Int) => Array[Byte]): Footer = {
    if (fileLen < FooterTailLen)
      throw new IllegalArgumentException(s"file too short for shardpack footer: $fileLen")
    val tail = readAt(fileLen - FooterTailLen, FooterTailLen)
    val tin = new DataInputStream(new ByteArrayInputStream(tail))
    val indexOffset = tin.readLong()
    val magic = readFully(tin, 8)
    if (!java.util.Arrays.equals(magic, Magic))
      throw new IllegalArgumentException("not a shardpack file (bad magic)")
    if (indexOffset < 0 || indexOffset > fileLen - FooterTailLen)
      throw new IllegalArgumentException(s"corrupt shardpack footer: indexOffset=$indexOffset")
    val idxLen = (fileLen - FooterTailLen - indexOffset).toInt
    val idx = new DataInputStream(new ByteArrayInputStream(readAt(indexOffset, idxLen)))
    val n = idx.readLong()
    if (n < 0 || n > idxLen / 8)
      throw new IllegalArgumentException(s"corrupt shardpack index: count=$n")
    val offsets = Array.fill(n.toInt)(idx.readLong())
    val metaLen = idx.readInt()
    val shardMeta = readFully(idx, metaLen)
    Footer(offsets, shardMeta)
  }

  /** Code-point (= UTF-8 byte) string ordering — the order Spark's
    * `UTF8String` uses when comparing `key` values and combining pushed
    * MIN/MAX partials. Java's natural `String` order is UTF-16 code-UNIT
    * order, which disagrees for strings mixing supplementary-plane code
    * points (surrogate pairs, 0xD800-0xDFFF units) with U+E000..U+FFFF:
    * UTF-16 sorts the supplementary characters BELOW U+E000, UTF-8 bytes
    * sort them ABOVE. Every producer and consumer of shard key stats
    * (writer envelopes, header sweeps, index entries, envelope pruning,
    * CALL system.stats) must use THIS order, or pushed aggregates could
    * disagree with a real scan and envelope checks could mis-prune.
    */
  object KeyOrd extends Ordering[String] {
    override def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.charAt(i); val cb = b.charAt(i)
        if (ca != cb) {
          // Differing chars compare as code points; plain char compare is
          // already code-point order unless BOTH are at/above the
          // surrogate range.
          if (ca < 0xD800 || cb < 0xD800) return ca - cb
          return Integer.compare(Character.codePointAt(a, i),
            Character.codePointAt(b, i))
        }
        i += 1
      }
      a.length - b.length
    }
  }

  /** Optional structured envelope stored INSIDE the (spec-opaque) shard
    * metadata slot by the DSv2 writer: a key-range summary enabling shard
    * pruning, followed by the user's metadata verbatim. A reader that finds
    * no marker treats the whole slot as user metadata, so shards written by
    * other producers (or before this envelope existed) stay readable.
    *
    * envelope := marker:8B minKey:str16 maxKey:str16 userMeta:bytes
    * v3 adds a key Bloom filter between maxKey and userMeta:
    * envelope3 := marker:8B minKey:str16 maxKey:str16
    *              k:int32 nBytes:int32 bits:bytes userMeta:bytes
    */
  object ShardStats {
    /** v2: min/max stamped under code-point [[KeyOrd]] ordering. */
    val Marker: Array[Byte] = "SPKSTAT2".getBytes(StandardCharsets.US_ASCII)

    /** v3: v2 plus a per-shard key Bloom filter — point-lookup pruning on
      * layouts whose key ENVELOPES overlap (hash-distributed or bucketed
      * keys, where every shard's [min, max] covers every probe and range
      * stats prune nothing). ~10 bits/key ⇒ <1% false-positive scans; a
      * false positive only costs the header sweep, never correctness.
      *
      * READ-COMPAT NOTE: a v2-era reader of THIS engine does not know this
      * marker — its unwrap matches neither SPKSTAT2 nor SPKSTAT3 and
      * returns the whole envelope (marker + range + Bloom bytes) as user
      * metadata, i.e. v3 stamps corrupt v2 readers' userMeta rather than
      * merely losing pruning. Readers of the reference format (which has
      * no stats envelope at all) are unaffected — they never parse shard
      * metadata. Mixed-version deployments of this engine must upgrade
      * readers before writers; there is no writer option to pin v2 because
      * no such deployment exists here (single-artifact library), but the
      * break is recorded so one is added if that changes.
      */
    val Marker3: Array[Byte] = "SPKSTAT3".getBytes(StandardCharsets.US_ASCII)

    /** v1 envelopes were stamped with Java UTF-16 (code-UNIT) min/max,
      * before [[KeyOrd]] existed. Trusting them under code-point comparison
      * can wrongly prune a shard whose keys mix supplementary-plane and
      * U+E000..U+FFFF characters (stamped max U+E000 while the true UTF-8
      * max is above it), so [[unwrap]] parses the v1 structure — recovering
      * the user metadata intact — but reports the key range as ABSENT; the
      * shard is then swept like any unstamped one (correct, never pruned).
      */
    private[shardpack] val LegacyMarker: Array[Byte] =
      "SPKSTAT1".getBytes(StandardCharsets.US_ASCII)

    def wrap(minKey: String, maxKey: String, userMeta: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.write(Marker)
      writeStr16(out, minKey)
      writeStr16(out, maxKey)
      if (userMeta != null) out.write(userMeta)
      out.flush()
      bos.toByteArray
    }

    /** v3: v2 plus the key Bloom filter. */
    def wrapWithBloom(minKey: String, maxKey: String, bloom: KeyBloom,
        userMeta: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.write(Marker3)
      writeStr16(out, minKey)
      writeStr16(out, maxKey)
      out.writeInt(bloom.numHashes)
      out.writeInt(bloom.bits.length)
      out.write(bloom.bits)
      if (userMeta != null) out.write(userMeta)
      out.flush()
      bos.toByteArray
    }

    private def hasMarker(meta: Array[Byte], m: Array[Byte]): Boolean =
      meta.length >= m.length &&
        java.util.Arrays.equals(java.util.Arrays.copyOf(meta, m.length), m)

    /** → (key range if a TRUSTED marker is present, user metadata).
      * v1 envelopes parse (user metadata recovered) but yield no range;
      * v3 envelopes skip over the Bloom section ([[unwrapBloom]] reads it).
      */
    def unwrap(meta: Array[Byte]): (Option[(String, String)], Array[Byte]) = {
      if (meta == null) (None, Array.emptyByteArray)
      else if (!hasMarker(meta, Marker) && !hasMarker(meta, LegacyMarker) &&
        !hasMarker(meta, Marker3)) (None, meta)
      else {
        val trusted = !hasMarker(meta, LegacyMarker)
        val in = new DataInputStream(new ByteArrayInputStream(meta))
        in.skipBytes(Marker.length)
        val lo = readStr16(in)
        val hi = readStr16(in)
        if (hasMarker(meta, Marker3)) {
          in.skipBytes(4) // k
          val n = in.readInt()
          in.skipBytes(n)
        }
        val rest = new Array[Byte](in.available())
        in.readFully(rest)
        (if (trusted) Some((lo, hi)) else None, rest)
      }
    }

    /** The v3 key Bloom filter, if this envelope carries one. */
    def unwrapBloom(meta: Array[Byte]): Option[KeyBloom] =
      if (meta == null || !hasMarker(meta, Marker3)) None
      else {
        val in = new DataInputStream(new ByteArrayInputStream(meta))
        in.skipBytes(Marker3.length)
        readStr16(in); readStr16(in)
        val k = in.readInt()
        val bits = new Array[Byte](in.readInt())
        in.readFully(bits)
        Some(new KeyBloom(k, bits))
      }

    /** Can a shard with this metadata hold a key of `keys` (None: any key)
      * inside `range` (None: unbounded)? The envelope test of [[mayHold]],
      * strengthened by the v3 Bloom when a key set is pushed — a point
      * lookup none of whose keys might be in the shard prunes it even when
      * the key RANGE overlaps (hash-distributed layouts). Both checks are
      * conservative, so the conjunction is too.
      */
    def mayContain(meta: Array[Byte], keys: Option[Set[String]],
        range: Option[KeyRange]): Boolean =
      mayHold(unwrap(meta)._1, keys, range) &&
        keys.forall(ks => unwrapBloom(meta).forall(b => ks.exists(b.mightContain)))

    def mayContain(meta: Array[Byte], keys: Set[String]): Boolean =
      mayContain(meta, Some(keys), None)

    /** THE envelope test: can a shard whose keys span `env` = [lo, hi]
      * hold a key of `keys` inside `range`? Compared in [[KeyOrd]], the
      * order of the record filters Spark applies, so the prune is always
      * conservative. No envelope (foreign or v1 shard) → must be read; an
      * empty key set holds nothing. Reader pruning ([[mayContain]]),
      * sidecar planning and the rewrite verbs' affected-shard selection
      * all decide through this one function.
      */
    def mayHold(env: Option[(String, String)], keys: Option[Set[String]],
        range: Option[KeyRange]): Boolean = env.forall { case (lo, hi) =>
      keys.forall(_.exists(k => KeyOrd.gteq(k, lo) && KeyOrd.lteq(k, hi))) &&
        range.forall(_.intersects(lo, hi))
    }
  }

  /** Per-shard key Bloom filter (v3 envelopes): double hashing h1 + i·h2
    * (the Kirsch–Mitzenmacher construction) over two independent 64-bit
    * polynomial folds of the key. ~[[KeyBloom.BitsPerKey]] bits/key with
    * [[KeyBloom.NumHashes]] probes ⇒ <1% false positives; membership says
    * "maybe" (scan), absence says "definitely not" (prune) — so pruning on
    * it is always sound.
    */
  final class KeyBloom private[shardpack] (val numHashes: Int, val bits: Array[Byte]) {
    private val mBits: Long = bits.length.toLong * 8
    def mightContain(key: String): Boolean = {
      val (h1, h2) = KeyBloom.hash2(key)
      var i = 0
      while (i < numHashes) {
        val idx = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, mBits)
        if ((bits((idx >>> 3).toInt) & (1 << (idx & 7).toInt)) == 0) return false
        i += 1
      }
      true
    }
  }

  object KeyBloom {
    val BitsPerKey = 10
    val NumHashes = 7 // ≈ ln2 · BitsPerKey, the false-positive optimum
    /** Shards past this record count skip the Bloom (memory valve; the
      * envelope falls back to v2 semantics — never wrong, just unpruned).
      */
    val MaxTrackedKeys: Int = 1 << 22

    /** Two independent 64-bit wraparound polynomial folds; h2 forced odd so
      * the double-hash probe sequence spans the whole bit array.
      */
    private[shardpack] def hash2(key: String): (Long, Long) = {
      var a = 1125899906842597L
      var b = 0L
      var i = 0
      while (i < key.length) {
        val c = key.charAt(i).toLong
        a = a * 31 + c
        b = b * 131 + c + 0x9E3779B97F4A7C15L
        i += 1
      }
      (a, b | 1L)
    }

    /** Build from pre-computed [[hash2]] pairs (the writer buffers hashes,
      * not keys — 16 B/record).
      */
    def build(hashes: scala.collection.Seq[(Long, Long)]): KeyBloom = {
      val h1s = new Array[Long](hashes.length)
      val h2s = new Array[Long](hashes.length)
      var i = 0
      hashes.foreach { case (a, b) => h1s(i) = a; h2s(i) = b; i += 1 }
      build(h1s, h2s, hashes.length)
    }

    /** Primitive-array variant — the writer's hot path buffers two long
      * arrays (a true 16 B/record), not boxed tuples (~40-48 B/record
      * with headers, ≈ 200 MB of heap per open writer task at the 2^22
      * MaxTrackedKeys valve).
      */
    def build(h1s: Array[Long], h2s: Array[Long], n: Int): KeyBloom = {
      val m = math.max(64L, n.toLong * BitsPerKey)
      val bits = new Array[Byte](((m + 7) / 8).toInt)
      val mBits = bits.length.toLong * 8
      var k = 0
      while (k < n) {
        val h1 = h1s(k); val h2 = h2s(k)
        var i = 0
        while (i < NumHashes) {
          val idx = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, mBits)
          bits((idx >>> 3).toInt) = (bits((idx >>> 3).toInt) | (1 << (idx & 7).toInt)).toByte
          i += 1
        }
        k += 1
      }
      new KeyBloom(NumHashes, bits)
    }
  }

  /** Streaming single-pass shard writer: buffers only offsets (O(records)
    * driver-side memory, `docs/draft.md:399-400`); the caller owns the
    * OutputStream and rolls files at [[DefaultShardCap]].
    */
  final class ShardFileWriter(out: OutputStream, shardMeta: Array[Byte]) {
    private val data = new DataOutputStream(out)
    private val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    private var pos: Long = 0L

    def bytesWritten: Long = pos
    def recordCount: Int = offsets.size

    def append(encodedRecord: Array[Byte]): Unit = {
      offsets += pos
      data.write(encodedRecord)
      pos += encodedRecord.length
    }

    /** Write the EOF index and close. */
    def finish(): Unit = finish(shardMeta)

    /** Variant with the final metadata decided at close time (the DSv2
      * writer wraps the user metadata in a [[ShardStats]] envelope once the
      * shard's key range is known).
      */
    def finish(meta: Array[Byte]): Unit = {
      writeFooter(data, offsets.toSeq, meta, pos)
      data.flush()
      data.close()
    }
  }

  /** Sequential record iterator over a full shard body (footer already
    * parsed) — the spec's streaming read mode (`docs/draft.md:213-218`).
    */
  final class RecordStream(in: InputStream, nRecords: Int,
      wantEntryData: Boolean, verify: Boolean) extends Iterator[Record] {
    private val din = new DataInputStream(in)
    private var i = 0
    override def hasNext: Boolean = i < nRecords
    override def next(): Record = {
      i += 1
      decodeRecord(din, wantEntryData, verify)
    }
  }
}
