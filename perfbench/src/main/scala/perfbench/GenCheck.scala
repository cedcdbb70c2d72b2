package perfbench

import java.security.MessageDigest

import graft.sources.shardpack.ShardpackFormat
import graft.sources.shardpack.ShardpackFormat.Codec

/** Prints, per seed, a SHA-256 over the encoded bytes of the first records
  * of both Layer-1 generators. Two processes given the same seed must print
  * the same digest.
  */
object GenCheck {
  def digest(seed: Long, n: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (0 until n).foreach { i =>
      md.update(ShardpackFormat.encodeRecord(Gen.loaderRecord(seed, i.toLong), Codec.None))
      md.update(ShardpackFormat.encodeRecord(Gen.keyedRecord(seed, i.toLong, i % 3), Codec.None))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def main(args: Array[String]): Unit =
    args.foreach(s => println(s"$s ${digest(s.toLong, 256)}"))
}
