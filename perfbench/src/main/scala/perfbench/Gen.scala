package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

import graft.sources.shardpack.ShardpackFormat.{Entry, Record}

/** SplitMix64 stream: small, fast and fully determined by its seed. */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    Rng.mix(state)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def fill(b: Array[Byte]): Unit = {
    var i = 0
    while (i < b.length) {
      var v = nextLong()
      var k = 0
      while (k < 8 && i < b.length) { b(i) = v.toByte; v >>>= 8; i += 1; k += 1 }
    }
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Independent stream for (seed, index, purpose). */
  def at(seed: Long, index: Long, stream: Int): Rng =
    new Rng(mix(mix(seed) ^ mix(index * 0x100000001B3L + stream)))
}

/** Benchmark inputs, each a pure function of (seed, record index). */
object Gen {
  private val Words: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ve", "da", "qu", "zo")
    Array.tabulate(256) { i =>
      val r = Rng.at(7L, i, 0)
      (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString
    }
  }

  private def text(r: Rng, len: Int): Array[Byte] = {
    val sb = new StringBuilder(len + 16)
    while (sb.length < len) sb.append(Words(r.nextInt(Words.length))).append(' ')
    sb.setLength(len)
    sb.toString.getBytes(UTF_8)
  }

  private def pad(s: String, len: Int): String = s + " " * math.max(0, len - s.length)

  // ──────── multimodal training records (format probe, generator check) ────────

  val SidecarEntry = "meta.json"

  def loaderKey(i: Long): String = f"rec-$i%09d"

  /** ~100 B metadata, meta.json (~200 B), text.txt (1–4 KiB of words,
    * compressible) and image.bin (4–64 KiB, log-uniform length, random
    * bytes, incompressible).
    */
  def loaderRecord(seed: Long, i: Long): Record = {
    val r = Rng.at(seed, i, 1)
    val label = r.nextInt(1000)
    val meta = pad(s"""{"id":$i,"split":"${if (r.nextInt(10) == 0) "val" else "train"}","label":$label,"src":"gen-$seed"}""", 100)
    val txt = text(r, 1024 + r.nextInt(3 * 1024 + 1))
    val imgLen = math.exp(math.log(4096) + r.nextDouble() * math.log(16)).toInt
    val img = new Array[Byte](imgLen)
    r.fill(img)
    val side = pad(s"""{"width":${64 + r.nextInt(960)},"height":${64 + r.nextInt(960)},"text_bytes":${txt.length},"image_bytes":$imgLen,"label":$label,"tags":["${Words(label % 256)}","${Words(r.nextInt(256))}"]}""", 200)
    Record(loaderKey(i), meta.getBytes(UTF_8), Seq(
      Entry(SidecarEntry, "application/json", "", side.getBytes(UTF_8)),
      Entry("text.txt", "text/plain", "", txt),
      Entry("image.bin", "application/octet-stream", "", img)))
  }

  // ─────────────── keyed_mixed: ~1 KiB records with versions ───────────────

  def keyedKey(i: Long): String = f"k$i%09d"
  /** A key that sorts between two present keys, so a lookup must open a shard. */
  def absentKey(i: Long): String = keyedKey(i) + "x"

  /** Version `v` of record `i`: ~60 B metadata and a 1 KiB value, half words
    * and half random bytes.
    */
  def keyedRecord(seed: Long, i: Long, v: Int): Record = {
    val r = Rng.at(seed, i, 2 + v)
    val value = new Array[Byte](1024)
    System.arraycopy(text(r, 512), 0, value, 0, 512)
    val tail = new Array[Byte](512)
    r.fill(tail)
    System.arraycopy(tail, 0, value, 512, 512)
    Record(keyedKey(i), pad(s"""{"i":$i,"v":$v}""", 60).getBytes(UTF_8),
      Seq(Entry("value.bin", "application/octet-stream", "", value)))
  }

  // ─────────────────────────── conversions and checks ───────────────────────────

  def toRow(rec: Record): Row =
    Row(rec.key, rec.metadata, rec.entries.map(e => Row(e.fileName, e.contentType, e.encoding, e.data)))

  def userBytes(rec: Record): Long =
    rec.metadata.length.toLong + rec.entries.map(_.data.length.toLong).sum

  def sha256Hex(b: Array[Byte]): String =
    graft.sources.shardpack.ShardpackFormat.sha256(b).map(x => f"$x%02x").mkString
}
