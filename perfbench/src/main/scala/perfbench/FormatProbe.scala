package perfbench

import graft.sources.shardpack.ShardpackFormat
import graft.sources.shardpack.ShardpackFormat.Codec

/** Single-thread calls into `ShardpackFormat` on a fixed sample of
  * generated multimodal training records: the codec layer's throughput,
  * apart from Spark. Each figure is the median of several rounds.
  */
object FormatProbe {
  val Sample = 64
  val Rounds = 5

  def run(seed: Long): Seq[(String, Double)] = {
    val recs = (0 until Sample).map(i => Gen.loaderRecord(seed, i.toLong))
    val userMb = recs.map(Gen.userBytes).sum / 1e6
    val payloads = recs.flatMap(_.entries.map(_.data))
    val payloadMb = payloads.map(_.length.toLong).sum / 1e6
    val blocks = recs.map(r => ShardpackFormat.encodeRecord(r, Codec.Lz4))
    // record body without the u32 length prefix, as decodeRecordBody takes it
    val bodies = blocks.map(b => java.util.Arrays.copyOfRange(b, 4, b.length))
    val packed = payloads.map(p => (Codec.compress(Codec.Lz4, p), p.length))
    var sink = 0L
    def secs(f: => Unit): Double =
      Stats.median((1 to Rounds).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
    val encode = secs(recs.foreach(r => sink += ShardpackFormat.encodeRecord(r, Codec.Lz4).length))
    val decode = secs(bodies.foreach { b =>
      sink += ShardpackFormat.decodeRecordBody(b, wantEntryData = true, verify = true).entries.size
    })
    val side = Some(Set(Gen.SidecarEntry))
    val sidecar = secs(bodies.foreach { b =>
      sink += ShardpackFormat.decodeRecordBody(b, wantEntryData = true, verify = true,
        entryFilter = side).entries.size
    })
    val lz4c = secs(payloads.foreach(p => sink += Codec.compress(Codec.Lz4, p).length))
    val lz4d = secs(packed.foreach { case (z, n) => sink += Codec.decompress(Codec.Lz4, z, n).length })
    val sha = secs(payloads.foreach(p => sink += ShardpackFormat.sha256(p).length))
    require(sink != 0L)
    Seq(
      "format.encode_mb_s" -> userMb / encode,
      "format.decode_mb_s" -> userMb / decode,
      "format.lz4_compress_mb_s" -> payloadMb / lz4c,
      "format.lz4_decompress_mb_s" -> payloadMb / lz4d,
      "format.sha256_mb_s" -> payloadMb / sha,
      "format.decode_sidecar_us" -> sidecar / Sample * 1e6)
  }
}
