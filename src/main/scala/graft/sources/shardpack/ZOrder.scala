package graft.sources.shardpack

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustered layout support: interleave two 16-bit
  * dimensions into one 32-bit code so that sorting by the code makes the
  * shard key ranges 2-D-local, and a 2-D box predicate becomes a SMALL set
  * of contiguous key ranges — each of which the format's per-shard
  * [minKey, maxKey] envelopes prune wholesale (the same one-footer-read
  * rejection as a point lookup, `ShardSlice.pruned`).
  *
  * This is the standard multi-dimensional clustering construction
  * (Morton 1966; the BIGMIN/LITMAX range-splitting literature, Tropf &
  * Herzog 1981; Delta/Iceberg `ZORDER BY`), re-expressed on the shardpack
  * key envelope machinery instead of a table-format manifest: the ENGINE
  * needs no new read path — pruning falls out of key-range pushdown the
  * format already implements. The reference's single string key
  * (`/root/reference/src/bucket.rs:52-55`) orders on one dimension only;
  * this recovers locality in two.
  *
  * Scale shape: codes are 32-bit regardless of row count; the box
  * decomposition is a driver-side pure function of the PREDICATE (≤
  * `maxRanges` cells, independent of data size); each range read prunes
  * shards via footers. At 100 TB the cost of a box query is
  * O(matching shards + maxRanges footer reads), not O(table).
  */
object ZOrder {

  /** Spread the low 16 bits of `v` to even bit positions (the classic
    * magic-mask doubling; public-domain "Interleave bits by Binary Magic
    * Numbers" from Stanford Bit Twiddling Hacks).
    */
  def spread16(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** Morton code: x in even bits, y in odd bits. Monotone per-dimension. */
  def morton(x: Long, y: Long): Long = spread16(x) | (spread16(y) << 1)

  /** Inverse of [[spread16]]: gather even bit positions back to 16 bits. */
  def gather16(v: Long): Long = {
    var x = v & 0x55555555L
    x = (x | (x >> 1)) & 0x33333333L
    x = (x | (x >> 2)) & 0x0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFFL
    x
  }

  def mortonX(code: Long): Long = gather16(code)
  def mortonY(code: Long): Long = gather16(code >> 1)

  /** Column form of [[morton]] — the write-path expression, identical
    * mask-and-shift sequence so driver-side decomposition and executor-side
    * keys can never disagree.
    */
  def mortonCol(x: Column, y: Column): Column = {
    def spread(v: Column): Column = {
      var c = v.bitwiseAND(lit(0xFFFFL))
      c = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
      c = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      c = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
      c = c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
      c
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** Fixed-width lowercase hex of a 32-bit code — lexicographic key order
    * equals numeric code order, so shard envelopes sort the z-curve.
    */
  def hexKey(code: Long): String = f"$code%08x"
  def hexKeyCol(code: Column): Column = lpad(lower(hex(code)), 8, "0")

  /** Decompose the box [x1,x2]×[y1,y2] (inclusive, 16-bit coords) into at
    * most `maxRanges` INCLUSIVE Morton-code ranges covering every code in
    * the box. Exact covering by quadtree recursion (a cell aligned to the
    * z-curve holds one contiguous code range [morton(x0,y0),
    * morton(x1,y1)]); adjacent ranges merge; if the exact cover exceeds
    * the budget, the closest-gap ranges merge further — an
    * OVER-approximation, sound because callers re-apply the exact box as a
    * residual filter. Deterministic: recursion order is code order, budget
    * merging always takes the smallest gap (ties to the earlier range).
    */
  def boxRanges(x1: Long, x2: Long, y1: Long, y2: Long,
      maxRanges: Int = 8): Seq[(Long, Long)] = {
    require(x1 <= x2 && y1 <= y2 && x1 >= 0 && y1 >= 0 &&
      x2 < (1L << 16) && y2 < (1L << 16), s"box out of range: $x1..$x2, $y1..$y2")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // cell = aligned square [cx, cx+size) × [cy, cy+size), visited in code
    // order so `acc` is sorted by construction
    def cover(cx: Long, cy: Long, size: Long): Unit = {
      val (cx1, cy1) = (cx + size - 1, cy + size - 1)
      if (cx1 < x1 || cx > x2 || cy1 < y1 || cy > y2) () // disjoint
      else if (cx >= x1 && cx1 <= x2 && cy >= y1 && cy1 <= y2)
        acc += ((morton(cx, cy), morton(cx1, cy1))) // fully inside
      else {
        val h = size / 2 // size >= 2 here: a 1-cell is inside or disjoint
        cover(cx, cy, h); cover(cx + h, cy, h)
        cover(cx, cy + h, h); cover(cx + h, cy + h, h)
      }
    }
    cover(0, 0, 1L << 16)
    // merge adjacent (exact), then smallest-gap (lossy) down to the budget
    val merged = acc.foldLeft(List.empty[(Long, Long)]) {
      case ((plo, phi) :: rest, (lo, hi)) if lo == phi + 1 => (plo, hi) :: rest
      case (list, r) => r :: list
    }.reverse.toBuffer
    while (merged.length > maxRanges) {
      val i = (0 until merged.length - 1)
        .minBy(j => merged(j + 1)._1 - merged(j)._2)
      merged(i) = (merged(i)._1, merged(i + 1)._2)
      merged.remove(i + 1)
    }
    merged.toSeq
  }
}
