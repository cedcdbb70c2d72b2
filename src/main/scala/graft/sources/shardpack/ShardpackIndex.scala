package graft.sources.shardpack

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Sidecar envelope index: one small `_graft_index` file per bucket holding
  * every shard's (name, length, [minKey, maxKey]) — the engine's analogue of
  * the reference's `BucketIndex::build`
  * (`/root/reference/src/index/bucket.rs:85-117`: list the bucket, read each
  * shard's index with caller-set parallelism, fold into one in-memory map).
  * Here the per-shard footer reads run as a SPARK JOB (one task per slice of
  * the shard list — the cluster is the `buffer_unordered` pool), and the
  * folded result is persisted so later planners read ONE file instead of N
  * footers.
  *
  * Consumers:
  *   - scan planning: a keyed scan emits input partitions ONLY for shards
  *     whose envelope may contain a requested key — on a 400k-shard bucket a
  *     point lookup schedules a handful of tasks instead of 400k
  *     self-pruning ones (task scheduling, not reading, is the bottleneck a
  *     driver faces at that shard count);
  *   - [[ShardpackOps.deleteKeys]] / [[ShardpackOps.merge]]: affected-shard
  *     selection reads the sidecar instead of probing every footer from the
  *     driver.
  *
  * Staleness is SAFE by construction: an entry is honored only if a shard
  * with the same (name, length) is present in the fresh directory listing.
  * New/changed/vanished shards simply miss the index and are handled
  * conservatively (included in scans, footer-probed by ops). Building is an
  * explicit maintenance step, like the reference's index build; after
  * that, every generation swap (the rewrites in [[ShardpackOps]] and SQL
  * UPDATE/DELETE/MERGE) CARRIES the inline sidecar to the new generation
  * ([[carry]]): retired shards' entries go, the swap's own new shards are
  * footer-probed in, so keyed access stays one-shard after an upsert.
  * Carrying never creates a sidecar, never indexes a shard some other
  * writer appended, and drops a partitioned root instead; truncate drops
  * the sidecar too ([[invalidate]]).
  */
object ShardpackIndex {

  val FileName = "_graft_index"
  // "GRFK" (v3: ranges re-derived under KeyOrd — a v2 sidecar may embed
  // UTF-16-ordered ranges, so the magic bump makes it fail to load and
  // every shard falls back to a footer probe, which distrusts v1 stamps)
  private val Magic = 0x4752464b
  // "GRFP": partitioned root manifest — past [[PartTarget]] shards the
  // entries live in key-sorted part files under a generation-named
  // subdirectory and the root holds only per-part key spans + a listing
  // signature. Older readers see an unknown magic and fall back to
  // footer probes (safe).
  private val MagicParts = 0x47524650

  /** Entries per part / the single-file cutover. Below this the sidecar
    * is one inline file (the constant-dominated common case); above it
    * the BUILD never collects entries to the driver (executors write the
    * parts; the driver sees only ~n/4096 part summaries) and keyed
    * PLANNING reads only the parts whose key span a predicate touches —
    * at 400k shards a point lookup reads the root (~100 summaries) plus
    * ONE part file instead of a 30 MB monolith.
    */
  val PartTarget = 4096

  final case class Entry(name: String, len: Long, range: Option[(String, String)],
      nRecords: Long)

  /** One part's summary in the root manifest: file name, entry count, and
    * the KeyOrd span covering every entry's envelope (None if any entry
    * in the part is rangeless — such a part is always loaded).
    */
  final case class PartInfo(name: String, count: Int,
      span: Option[(String, String)])

  private final case class PartedRoot(total: Int, sigSum: Long, sigXor: Long,
      partsDir: String, parts: Vector[PartInfo])

  /** Stable 64-bit signature of one (name, len) listing element — FNV-1a
    * over the name bytes folded with the length. The pair (sum, xor) over
    * a listing identifies the shard SET order-independently; planning
    * trusts part-level exclusion only when the fresh listing's signature
    * equals the one recorded at build time (i.e. the sidecar describes
    * exactly the current shards — appends since build flip the signature
    * and disable exclusion, never correctness).
    */
  private def sigOf(name: String, len: Long): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h ^= len
    h * 0x100000001b3L
  }

  private def writeEntries(out: DataOutputStream, entries: Seq[Entry]): Unit = {
    out.writeInt(Magic)
    out.writeInt(entries.length)
    entries.foreach { e =>
      out.writeUTF(e.name)
      out.writeLong(e.len)
      out.writeLong(e.nRecords)
      out.writeBoolean(e.range.isDefined)
      e.range.foreach { case (lo, hi) => out.writeUTF(lo); out.writeUTF(hi) }
    }
    out.flush()
  }

  private def readSmallFile(fs: FileSystem, p: Path): Array[Byte] = {
    val st = fs.getFileStatus(p)
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  private def readEntriesPayload(din: DataInputStream): Map[String, Entry] = {
    val n = din.readInt()
    val b = Map.newBuilder[String, Entry]
    (0 until n).foreach { _ =>
      val name = din.readUTF()
      val len = din.readLong()
      val nRecords = din.readLong()
      val range = if (din.readBoolean()) Some((din.readUTF(), din.readUTF())) else None
      b += name -> Entry(name, len, range, nRecords)
    }
    b.result()
  }

  private def atomicPublish(fs: FileSystem, dirPath: Path, bytes: Array[Byte]): Unit = {
    // atomic publish: stage dot-prefixed, rename over the destination
    val tmp = new Path(dirPath, s".$FileName-${java.util.UUID.randomUUID().toString.take(8)}")
    val os = fs.create(tmp, true)
    try os.write(bytes) finally os.close()
    val dst = new Path(dirPath, FileName)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"shardpack index publish failed: $tmp -> $dst")
  }

  /** The EOF index of the shard at `path` (`len` = its listed length):
    * one open, the footer reads, one close. Every footer read of a stored
    * shard goes through here.
    */
  private[shardpack] def footer(fs: FileSystem, path: Path, len: Long): ShardpackFormat.Footer = {
    val in = fs.open(path)
    try ShardpackFormat.readFooter(len, (pos, n) => {
      val b = new Array[Byte](n); in.readFully(pos, b); b
    })
    finally in.close()
  }

  /** Footer probe of one shard: its envelope and record count. */
  private[shardpack] def probeEntry(fs: FileSystem, path: Path, len: Long): Entry = {
    val f = footer(fs, path, len)
    Entry(path.getName, len, ShardpackFormat.ShardStats.unwrap(f.shardMetadata)._1,
      f.offsets.length.toLong)
  }

  /** One inline sidecar file holding `entries`, name-sorted. */
  private def publishInline(fs: FileSystem, dirPath: Path, entries: Seq[Entry]): Unit = {
    val bos = new ByteArrayOutputStream()
    writeEntries(new DataOutputStream(bos), entries.sortBy(_.name))
    atomicPublish(fs, dirPath, bos.toByteArray)
  }

  /** Build (or rebuild) the sidecar with distributed footer reads.
    * Returns the number of shards indexed. ≤ [[PartTarget]] shards: one
    * inline file (driver collects the bounded entry list). Above it: the
    * entries are sorted by envelope min-key and written as part files BY
    * THE EXECUTORS — the driver never holds an entry, only the ~n/4096
    * part summaries — then the root manifest (spans + listing signature)
    * is published atomically over the old one; older parts directories
    * are garbage-collected best-effort after the swap.
    */
  def build(spark: SparkSession, dir: String): Int = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(HadoopConfs.session())
    val shards = ShardpackDataSource.listShards(fs, dirPath)
      .map(st => (st.getPath.toString, st.getLen))
    val hconf = HadoopConfs.serializable()
    def entryRdd = spark.sparkContext
      .parallelize(shards, math.max(1, math.min(shards.size, 64)))
      .map { case (p, len) =>
        val path = new Path(p)
        probeEntry(path.getFileSystem(hconf.value), path, len)
      }
    if (shards.size <= PartTarget) {
      val entries = if (shards.isEmpty) Array.empty[Entry] else entryRdd.collect()
      publishInline(fs, dirPath, entries.toSeq)
      entries.length
    } else {
      val gen = java.util.UUID.randomUUID().toString.take(8)
      val partsDirName = s"$FileName.d-$gen"
      val partsDirStr = new Path(dirPath, partsDirName).toString
      val nParts = ((shards.size + PartTarget - 1) / PartTarget)
      implicit val keyFirst: Ordering[(String, String)] =
        Ordering.Tuple2(ShardpackFormat.KeyOrd, Ordering.String)
      val infos = entryRdd
        .sortBy(e => (e.range.map(_._1).getOrElse(""), e.name), ascending = true,
          numPartitions = nParts)
        .mapPartitionsWithIndex { case (idx, it) =>
          val es = it.toVector
          if (es.isEmpty) Iterator.empty
          else {
            val name = f"part-$idx%05d"
            val p = new Path(new Path(partsDirStr), name)
            val f = p.getFileSystem(hconf.value)
            val bos = new ByteArrayOutputStream()
            writeEntries(new DataOutputStream(bos), es)
            val os = f.create(p, true)
            try os.write(bos.toByteArray) finally os.close()
            val span =
              if (es.exists(_.range.isEmpty)) None
              else Some((es.flatMap(_.range.map(_._1)).min(ShardpackFormat.KeyOrd),
                es.flatMap(_.range.map(_._2)).max(ShardpackFormat.KeyOrd)))
            Iterator.single(PartInfo(name, es.size, span))
          }
        }
        .collect().sortBy(_.name)
      var sigSum = 0L; var sigXor = 0L
      shards.foreach { case (p, len) =>
        val s = sigOf(new Path(p).getName, len); sigSum += s; sigXor ^= s
      }
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(MagicParts)
      out.writeInt(shards.size)
      out.writeLong(sigSum)
      out.writeLong(sigXor)
      out.writeUTF(partsDirName)
      out.writeInt(infos.length)
      infos.foreach { pi =>
        out.writeUTF(pi.name)
        out.writeInt(pi.count)
        out.writeBoolean(pi.span.isDefined)
        pi.span.foreach { case (lo, hi) => out.writeUTF(lo); out.writeUTF(hi) }
      }
      out.flush()
      atomicPublish(fs, dirPath, bos.toByteArray)
      // best-effort GC of superseded generations: a reader mid-flight on
      // the old root sees missing parts and falls back to footer probes
      fs.listStatus(dirPath).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(s"$FileName.d-") && n != partsDirName)
          fs.delete(st.getPath, true)
      }
      shards.size
    }
  }

  private def readRoot(fs: FileSystem, dir: Path)
      : Option[Either[Map[String, Entry], PartedRoot]] = {
    val p = new Path(dir, FileName)
    try {
      if (!fs.exists(p)) None
      else {
        val din = new DataInputStream(new ByteArrayInputStream(readSmallFile(fs, p)))
        din.readInt() match {
          case Magic => Some(Left(readEntriesPayload(din)))
          case MagicParts =>
            val total = din.readInt()
            val sigSum = din.readLong()
            val sigXor = din.readLong()
            val partsDir = din.readUTF()
            val n = din.readInt()
            val parts = (0 until n).map { _ =>
              val name = din.readUTF()
              val count = din.readInt()
              val span = if (din.readBoolean()) Some((din.readUTF(), din.readUTF())) else None
              PartInfo(name, count, span)
            }.toVector
            Some(Right(PartedRoot(total, sigSum, sigXor, partsDir, parts)))
          case _ => None
        }
      }
    } catch {
      case _: java.io.IOException => None // unreadable sidecar = no sidecar
    }
  }

  private def readPart(fs: FileSystem, dir: Path, root: PartedRoot,
      part: PartInfo): Option[Map[String, Entry]] =
    try {
      val din = new DataInputStream(new ByteArrayInputStream(
        readSmallFile(fs, new Path(new Path(dir, root.partsDir), part.name))))
      if (din.readInt() != Magic) None else Some(readEntriesPayload(din))
    } catch {
      case _: java.io.IOException => None // missing part = those shards unindexed
    }

  /** Load the FULL sidecar, if present and parseable (partitioned roots
    * merge every readable part; a missing part simply drops its entries —
    * safe, those shards fall back to footer probes). Entries are raw —
    * callers MUST validate each against a fresh listing by (name, len)
    * before trusting its envelope.
    */
  def load(fs: FileSystem, dir: Path): Option[Map[String, Entry]] =
    readRoot(fs, dir).map {
      case Left(entries) => entries
      case Right(root) =>
        root.parts.flatMap(pi => readPart(fs, dir, root, pi).getOrElse(Map.empty)).toMap
    }

  /** Planning-time pruned view of the sidecar — see [[pruned]]. */
  sealed trait PrunedIndex {
    /** The validated entry for a listed shard, if indexed and loaded. */
    def entryOf(name: String, len: Long): Option[Entry]
    /** True when the index PROVES the shard cannot match the predicate:
      * its entry lives in a part whose key span the predicate does not
      * touch, and the root's listing signature matches the fresh listing
      * (so every listed shard is known to the sidecar). Never true for
      * shards appended after the build.
      */
    def excluded(name: String, len: Long): Boolean
    /** Part files actually read (spec/diagnostics hook; 0 or 1 for
      * inline roots).
      */
    def partsRead: Int
  }

  private final class FullIndex(entries: Map[String, Entry], read: Int)
      extends PrunedIndex {
    def entryOf(name: String, len: Long): Option[Entry] =
      entries.get(name).filter(_.len == len)
    def excluded(name: String, len: Long): Boolean = false
    def partsRead: Int = read
  }

  private final class PartPrunedIndex(loaded: Map[String, Entry],
      verified: Boolean, read: Int) extends PrunedIndex {
    def entryOf(name: String, len: Long): Option[Entry] =
      loaded.get(name).filter(_.len == len)
    // signature-verified ⇒ the sidecar describes EXACTLY the current
    // listing, so a listed shard absent from the touched parts' union
    // must live in an untouched part — its envelope provably misses
    def excluded(name: String, len: Long): Boolean =
      verified && !loaded.contains(name)
    def partsRead: Int = read
  }

  /** Planning view that reads only the parts whose key span `touch`es the
    * pushed predicate. `listed` is the caller's fresh (name, len) listing
    * for this directory; part-level EXCLUSION of unloaded shards is
    * enabled only when its signature matches the root's (exact-set
    * proof — see [[sigOf]]). On mismatch (post-build appends) the view
    * degrades to loaded-parts-only pruning with conservative inclusion,
    * never to wrong answers.
    */
  def pruned(fs: FileSystem, dir: Path, listed: Seq[(String, Long)],
      touch: Option[(String, String)] => Boolean): PrunedIndex =
    readRoot(fs, dir) match {
      case scala.None => new FullIndex(Map.empty, 0)
      case Some(Left(entries)) => new FullIndex(entries, 1)
      case Some(Right(root)) =>
        val touched = root.parts.filter(pi => touch(pi.span))
        val loaded = touched
          .flatMap(pi => readPart(fs, dir, root, pi).getOrElse(Map.empty)).toMap
        var sum = 0L; var xor = 0L
        listed.foreach { case (n, l) => val s = sigOf(n, l); sum += s; xor ^= s }
        val verified = listed.size == root.total &&
          sum == root.sigSum && xor == root.sigXor &&
          // every touched part must have loaded fully: a GC'd generation's
          // missing entries must not masquerade as exclusions
          loaded.size == touched.iterator.map(_.count).sum
        new PartPrunedIndex(loaded, verified, touched.size)
    }

  /** Drop the sidecar. Only truncate calls this directly: it empties the
    * bucket, so there is nothing to carry. Generation swaps go through
    * [[carry]].
    */
  def invalidate(fs: FileSystem, dir: Path): Unit = {
    fs.delete(new Path(dir, FileName), false); ()
  }

  /** Carry the sidecar across a generation swap. Called once the new
    * generation is visible and the retired shards are gone; `before` is
    * the names of the op's pre-swap listing.
    *
    * An inline sidecar is re-published (atomically, like [[build]]) for
    * the fresh listing: entries that no longer match it by (name, len)
    * are dropped, and the shards this swap added — listed now, absent
    * from `before` — are footer-probed in. A shard that was unindexed
    * before the swap stays unindexed, and a bucket without a sidecar
    * still has none: carrying never creates. A partitioned root, or an
    * inline one the swap would grow past [[PartTarget]], is dropped (a
    * rebuild re-partitions it), as is an unreadable one.
    *
    * Safe under races for the same reason appends are: readers honor an
    * entry only on a (name, len) match against their own fresh listing,
    * and shard names are task-unique. A concurrent writer's shard is at
    * worst left unindexed (conservatively scanned), never hidden.
    */
  def carry(fs: FileSystem, dir: Path, before: Set[String]): Unit =
    readRoot(fs, dir) match {
      case Some(Left(entries)) =>
        val kept = ShardpackDataSource.listShards(fs, dir).filter { st =>
          val name = st.getPath.getName
          entries.get(name).exists(_.len == st.getLen) || !before.contains(name)
        }
        if (kept.size > PartTarget) invalidate(fs, dir)
        else publishInline(fs, dir, resolve(fs, entries, kept))
      case _ => invalidate(fs, dir)
    }

  /** Sidecar entry per shard where one matches by (name, len), a footer
    * probe otherwise.
    */
  private[shardpack] def resolve(fs: FileSystem, idx: Map[String, Entry],
      shards: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Entry] =
    shards.map { st =>
      idx.get(st.getPath.getName).filter(_.len == st.getLen)
        .getOrElse(probeEntry(fs, st.getPath, st.getLen))
    }

  /** A bucket profile: shard, record and byte totals and the
    * [[ShardpackFormat.KeyOrd]] extremes of the shard envelopes (None when
    * no shard has one); `indexed` = a non-empty sidecar was found.
    */
  final case class Stats(shards: Int, records: Long, bytes: Long,
      minKey: Option[String], maxKey: Option[String], indexed: Boolean)

  /** Profile the listed `shards` of `dir` sidecar-first ([[resolve]]): one
    * index read covers counts and envelopes, footer probes only the shards
    * it misses. The one computation behind both stats verbs.
    */
  def stats(fs: FileSystem, dir: Path, shards: Seq[org.apache.hadoop.fs.FileStatus]): Stats = {
    val idx = load(fs, dir).getOrElse(Map.empty)
    val entries = resolve(fs, idx, shards)
    val ranges = entries.flatMap(_.range)
    Stats(entries.size, entries.map(_.nRecords).sum, entries.map(_.len).sum,
      ranges.map(_._1).minOption(ShardpackFormat.KeyOrd),
      ranges.map(_._2).maxOption(ShardpackFormat.KeyOrd), idx.nonEmpty)
  }

  /** Envelope per listed shard, sidecar-first: a shard matching a sidecar
    * entry by (name, len) uses the indexed range; anything else gets its
    * footer probed directly. The unit callers build on.
    */
  def envelopes(fs: FileSystem, dir: Path,
      shards: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[(org.apache.hadoop.fs.FileStatus, Option[(String, String)])] =
    shards.zip(resolve(fs, load(fs, dir).getOrElse(Map.empty), shards).map(_.range))
}
