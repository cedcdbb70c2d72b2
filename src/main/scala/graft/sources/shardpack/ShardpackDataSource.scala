package graft.sources.shardpack

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.unsafe.types.UTF8String

import ShardpackFormat._

/** DataSource V2 implementation of the shardpack format:
  * `spark.read.format("shardpack").load(dir)` /
  * `df.write.format("shardpack").option("compression","lz4").save(dir)`.
  *
  * Scale design (SURVEY.md §1.4, §7 M7):
  *   - one `InputPartition` per shard file — the shard is the unit of
  *     distribution exactly as specified (`/root/reference/docs/draft.md:
  *     177-181`), so a 100 TB bucket fans out to ~400k independent tasks
  *     with no driver-side index materialization; each task reads only its
  *     own footer;
  *   - key-equality filters are pushed down ([[SupportsPushDownFilters]]):
  *     non-matching records are skipped from their length prefix without
  *     decompression — the spec's "partial data loading"
  *     (`docs/draft.md:124-127`);
  *   - column pruning ([[SupportsPushDownRequiredColumns]]) including the
  *     nested `entries.data` field: a metadata-only scan never inflates
  *     payload bytes;
  *   - writers are task-local and never coordinate: each `DataWriter` rolls
  *     its own shards at the 256 MiB cap and stages them under dot-prefixed
  *     temp names; the driver renames on job commit, so task retries are
  *     idempotent (the reference ignored this — SURVEY.md §3.4).
  *
  * Row schema: `key STRING, metadata BINARY,
  * entries ARRAY<STRUCT<file_name STRING, content_type STRING,
  * encoding STRING, data BINARY>>`.
  */
class ShardpackDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "shardpack"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardpackDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // single path via "path"; spark.read…load(dirA, dirB, …) arrives as a
    // JSON string-array under "paths" (same codec as our offset log)
    val paths = Option(properties.get("path")).map(Seq(_))
      .orElse(Option(properties.get("paths"))
        .map(ShardpackOffset.fromJson(_).files))
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("shardpack requires a path"))
    new ShardpackTable(paths, None)
  }
}

object ShardpackDataSource {
  val EntrySchema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("metadata", BinaryType, nullable = true),
    StructField("entries", ArrayType(EntrySchema, containsNull = false), nullable = false)))

  val FileSuffix = ".shardpack"

  /** Schemes whose `rename` is a server-side COPY (+ delete): batch writes
    * there skip staging and conditional-put straight to final names — at
    * 400k shards a copy-per-shard commit is real money and wall-clock.
    * `abfs(s)` is excluded: hierarchical-namespace accounts rename
    * atomically, so staging costs nothing extra there.
    */
  val ObjectStoreSchemes: Set[String] = Set("s3", "s3a", "s3n", "s3x", "gs", "oss", "cos", "swift")

  /** Bucketed writers name shards `…-b<bucket>-<seq>.shardpack`. */
  val BucketedName = """-b(\d+)-\d+\.shardpack$""".r

  /** Cross-engine key-hash percentile (the CrossHash polynomial fold mod
    * 100) — the sampled-scan membership function. Pure function of the
    * key: the same records are sampled on every run, engine, and reader
    * path, and `poly_hash(key, 131, 1000000007) % 100 < pct` reproduces
    * the exact membership in SQL.
    */
  def keyHashPct(key: String): Int = {
    var h = 0L
    var i = 0
    while (i < key.length) {
      val cp = key.codePointAt(i)
      h = (h * 131 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    (h % 100).toInt
  }

  /** Deferred-deletion tombstones: `<dir>/.graft-tombstones` lists shard
    * names retired by a generation swap (compact with a grace period) plus
    * the earliest time each may be physically deleted. A tombstoned shard
    * keeps its bytes at its original path — a scan PLANNED against the old
    * generation still reads exactly the files it planned — but vanishes
    * from every fresh [[listShards]] listing, so new plans see only the
    * current generation, never a mix. [[ShardpackOps.vacuum]] deletes the
    * bytes once the deadline passes. Format: `<name>\t<deadlineEpochMs>`
    * per line. Unlike the sidecar, absence is NOT harmless (a lost
    * tombstone file resurfaces retired shards next to their replacements —
    * duplicate rows), so the publish must be atomic: staged + renamed on
    * filesystems, a single overwriting PUT on object stores (whose PUTs
    * replace atomically and whose renames are the non-atomic op).
    */
  val TombstoneFile = ".graft-tombstones"

  def readTombstones(fs: FileSystem, dir: Path): Map[String, Long] = {
    val p = new Path(dir, TombstoneFile)
    // only a true not-found may read as "no tombstones" (vacuum completed
    // between the listing and this read); any other IO failure must
    // propagate — degrading it to Map.empty would resurface retired shards
    // next to their replacements (duplicate rows)
    try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split('\t') match {
          case Array(n, d) if d.forall(_.isDigit) => Some(n -> d.toLong)
          case _ => None
        }).toMap
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => Map.empty }
  }

  def writeTombstones(fs: FileSystem, dir: Path, ts: Map[String, Long]): Unit = {
    val dst = new Path(dir, TombstoneFile)
    if (ts.isEmpty) { fs.delete(dst, false); return }
    val bytes = ts.toSeq.sorted.map { case (n, d) => s"$n\t$d" }
      .mkString("\n").getBytes("UTF-8")
    val scheme = Option(dir.toUri.getScheme).getOrElse("")
    if (ObjectStoreSchemes.contains(scheme)) {
      // object store: one overwriting PUT is the atomic publish; a staged
      // rename would open a no-tombstone window (delete+copy)
      val os = fs.create(dst, true)
      try os.write(bytes) finally os.close()
    } else {
      val tmp = new Path(dir, s".graft-tombstones-tmp-${UUID.randomUUID().toString.take(8)}")
      val os = fs.create(tmp, true)
      try os.write(bytes) finally os.close()
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"tombstone publish failed: $tmp -> $dst")
    }
  }

  def listShards(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else {
      val all = fs.listStatus(dir).toSeq
      // only pay the tombstone read when the listing shows the file exists
      val dead =
        if (all.exists(_.getPath.getName == TombstoneFile)) readTombstones(fs, dir).keySet
        else Set.empty[String]
      all.filter(st => !dead.contains(st.getPath.getName))
    }
      .filter(st => st.isFile && st.getPath.getName.endsWith(FileSuffix) &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
}

/** The shapes a supported `DELETE … WHERE` condition resolves to (see
  * `ShardpackTable.classify`). Top-level, so matching on them needs no
  * outer-instance check.
  */
private object ShardpackTable {
  sealed trait DeleteShape
  case object Truncate extends DeleteShape
  final case class Keys(ks: Set[String]) extends DeleteShape
  final case class Range(lo: String, hi: String) extends DeleteShape
}

final class ShardpackTable(paths: Seq[String], bucketN: Option[Int])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import ShardpackDataSource._
  import ShardpackTable._

  def this(path: String, bucketN: Option[Int] = None) = this(Seq(path), bucketN)

  /** SQL `DELETE FROM cat.t WHERE …` without a rewrite plan: conditions
    * that resolve to key sets, a half-open key range, or the whole table
    * route to the envelope-pruned generation-swap rewrites in
    * [[ShardpackOps]] (the reference's `Bucket::delete`,
    * `/root/reference/src/bucket.rs:171-183`, as an immutable-storage
    * operation). Anything else — predicates on payload columns, exclusive
    * bounds — is declined here so Spark raises a clear unsupported error
    * instead of this table guessing.
    */
  private def classify(filters: Array[Filter]): Option[DeleteShape] = {
    val meaningful = filters.filterNot {
      case IsNotNull("key") => true
      case AlwaysTrue() => true
      case _ => false
    }
    val keySets = meaningful.collect {
      case EqualTo("key", v: String) => Set(v)
      case In("key", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    val los = meaningful.collect { case GreaterThanOrEqual("key", v: String) => v }
    val his = meaningful.collect { case LessThan("key", v: String) => v }
    if (meaningful.isEmpty) Some(Truncate)
    else if (keySets.length == meaningful.length)
      Some(Keys(keySets.reduce(_ intersect _)))
    else if (los.length == 1 && his.length == 1 &&
        los.length + his.length == meaningful.length)
      // a range empty in Spark's string order (KeyOrd) deletes nothing
      Some(if (KeyOrd.lt(los.head, his.head)) Range(los.head, his.head) else Keys(Set.empty))
    else None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    paths.size == 1 && classify(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(paths.size == 1, "shardpack delete requires exactly one path")
    val spark = org.apache.spark.sql.SparkSession.active
    classify(filters).getOrElse(
        throw new UnsupportedOperationException(
          s"unsupported delete condition: ${filters.mkString(" AND ")}")) match {
      case Truncate =>
        val dir = new Path(paths.head)
        val fs = dir.getFileSystem(HadoopConfs.session())
        listShards(fs, dir).foreach(st => fs.delete(st.getPath, false))
        ShardpackIndex.invalidate(fs, dir)
      case Keys(ks) =>
        if (ks.nonEmpty) ShardpackOps.deleteKeys(spark, paths.head, ks.toSeq.sorted)
      case Range(lo, hi) =>
        ShardpackOps.deleteRange(spark, paths.head, lo, hi)
    }
  }

  override def name(): String = s"shardpack:${paths.mkString(",")}"
  override def schema(): StructType = Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  /** Catalog tables bucketed by key advertise it (SPJ matching). */
  override def partitioning(): Array[Transform] =
    bucketN.map(n => org.apache.spark.sql.connector.expressions.Expressions
      .bucket(n, "key")).toArray

  /** File-provenance metadata column (`SELECT _shard, key FROM t`): the
    * source shard file of each record. Also the GROUP identity of row-level
    * rewrites — Spark's runtime group filter feeds matched `_shard` values
    * back to the scan, so an UPDATE rewrites exactly the shards containing
    * matches (the Iceberg `_file` pattern).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_shard"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "source shard file path"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "record ordinal within its shard (with _shard: a stable physical address)"
      })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShardpackScanBuilder(paths, options, bucketN)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1, "shardpack write requires exactly one path")
    new ShardpackWriteBuilder(paths.head, info, bucketN)
  }

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` with predicates the
    * metadata path declines) via group-based copy-on-write: Spark rewrites
    * every shard containing a match — reading full shards, recombining
    * rows, writing replacement shards — and commit swaps them atomically
    * per file. The unit of rewrite is the shard, the same granularity the
    * reference's immutable-shard model implies for any mutation
    * (`/root/reference/docs/draft.md:207-211`).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(paths.size == 1, "shardpack row-level operations require exactly one path")
    () => new ShardpackRowLevelOperation(paths.head, info.command(), bucketN)
  }
}

// ─────────────────────────── read path ───────────────────────────

/** Conjunctive key-range predicate pushed down from `>=`/`>`/`<=`/`<`/
  * `startsWith` filters on `key` — the range-scan companion of the equality
  * pushdown. Evaluated per record AND against each shard's footer envelope
  * (a sorted bucket answers `key BETWEEN a AND b` by opening only the
  * shards whose [min,max] intersects the range).
  */
final case class KeyRange(lo: Option[String], loInc: Boolean,
    hi: Option[String], hiInc: Boolean, prefix: Option[String])
    extends Serializable {
  import ShardpackFormat.{KeyOrd => O}

  def contains(k: String): Boolean =
    prefix.forall(k.startsWith) &&
    lo.forall(l => if (loInc) O.gteq(k, l) else O.gt(k, l)) &&
    hi.forall(h => if (hiInc) O.lteq(k, h) else O.lt(k, h))

  /** Can this range intersect the key envelope [mn, mx]? (conservative) */
  def intersects(mn: String, mx: String): Boolean =
    lo.forall(l => if (loInc) O.gteq(mx, l) else O.gt(mx, l)) &&
    hi.forall(h => if (hiInc) O.lteq(mn, h) else O.lt(mn, h)) &&
    prefix.forall(p => O.gteq(mx, p) && (O.lteq(mn, p) || mn.startsWith(p)))

  def and(o: KeyRange): KeyRange = {
    val (nlo, nloInc) = (lo, o.lo) match {
      case (Some(a), Some(b)) =>
        if (O.gt(a, b)) (Some(a), loInc)
        else if (O.gt(b, a)) (Some(b), o.loInc)
        else (Some(a), loInc && o.loInc)
      case (Some(a), None) => (Some(a), loInc)
      case (None, b) => (b, o.loInc)
    }
    val (nhi, nhiInc) = (hi, o.hi) match {
      case (Some(a), Some(b)) =>
        if (O.lt(a, b)) (Some(a), hiInc)
        else if (O.lt(b, a)) (Some(b), o.hiInc)
        else (Some(a), hiInc && o.hiInc)
      case (Some(a), None) => (Some(a), hiInc)
      case (None, b) => (b, o.hiInc)
    }
    val np = (prefix, o.prefix) match {
      case (Some(a), Some(b)) =>
        if (a.startsWith(b)) Some(a)
        else if (b.startsWith(a)) Some(b)
        else Some(a + "\u0000" + b) // incompatible prefixes match nothing
      case (a, b) => a.orElse(b)
    }
    KeyRange(nlo, nloInc, nhi, nhiInc, np)
  }
}

object KeyRange {
  /** THE filter classifier: the filters on `key` this source can evaluate
    * (`IsNotNull` among them — keys are never null), the key set they pin
    * (`=`/`IN`, intersected; None = any key) and the key range they bound
    * (`>`/`>=`/`<`/`<=`/`startsWith`, conjoined; None = unbounded). Scan
    * builders and runtime filtering all read predicates through this.
    */
  def classify(filters: Array[Filter]): (Array[Filter], Option[Set[String]], Option[KeyRange]) = {
    val pushed = filters.filter {
      case EqualTo("key", _: String) | IsNotNull("key") | StringStartsWith("key", _) => true
      case In("key", vs) => vs.forall(_.isInstanceOf[String])
      case GreaterThan("key", _: String) | GreaterThanOrEqual("key", _: String) => true
      case LessThan("key", _: String) | LessThanOrEqual("key", _: String) => true
      case _ => false
    }
    val keySets = pushed.collect {
      case EqualTo("key", v: String) => Set(v)
      case In("key", vs) => vs.map(_.asInstanceOf[String]).toSet
    }
    val ranges = pushed.collect {
      case GreaterThan("key", v: String) => KeyRange(Some(v), false, None, true, None)
      case GreaterThanOrEqual("key", v: String) => KeyRange(Some(v), true, None, true, None)
      case LessThan("key", v: String) => KeyRange(None, true, Some(v), false, None)
      case LessThanOrEqual("key", v: String) => KeyRange(None, true, Some(v), true, None)
      case StringStartsWith("key", p) => KeyRange(Some(p), true, None, true, Some(p))
    }
    (pushed, keySets.reduceOption(_ intersect _), ranges.reduceOption(_ and _))
  }
}

final class ShardpackScanBuilder(paths: Seq[String], options: CaseInsensitiveStringMap,
    bucketN: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import ShardpackDataSource._

  private var required: StructType = Schema
  private var pushed: Array[Filter] = Array.empty
  private var keyFilter: Option[Set[String]] = None // None = all keys
  private var keyRange: Option[KeyRange] = None // None = unbounded
  private var countPushed = false
  private var limit: Option[Int] = None

  /** LIMIT n reaches planning: with a built sidecar index, only the prefix
    * of shards whose cumulative record count covers n is SCHEDULED — `LIMIT
    * 10` against a 400k-shard bucket plans one task, not 400k. Partial push
    * (`isPartiallyPushed` stays true): Spark keeps its own global limit, so
    * correctness never depends on the cap — unindexed shards just disable
    * the early stop.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** COUNT(*) / MIN(key) / MAX(key) with no filters are answered from the
    * FOOTERS alone: each task emits one partial row — record count from the
    * EOF index, key envelope from the writer's [[ShardpackFormat.ShardStats]]
    * (≈ tens of bytes read per shard, zero record bytes) — and Spark
    * combines the partials (SUM / MIN / MAX). This is exactly the O(shards)
    * metadata profile the reference's EOF index exists for
    * (`docs/draft.md:100-127`); a stats-less foreign shard falls back to a
    * header-only key scan inside its own task. Filtered or grouped
    * aggregates decline the pushdown and scan as usual.
    */
  private var aggKinds: Seq[Char] = Seq.empty
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def isKey(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("key"))
        case _ => false
      }
    val kinds = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => 'c'
      case m: Min if isKey(m.column) => 'n'
      case m: Max if isKey(m.column) => 'x'
      case _ => '?'
    }
    // A sampled read (samplePct) is a VIEW of the data: count/min/max must
    // reflect the sample, which only the record scan's sampleKeep can apply
    // — footer stats describe the full table, so decline the pushdown.
    val ok = keyFilter.isEmpty && keyRange.isEmpty && pushed.isEmpty &&
      agg.groupByExpressions.isEmpty && kinds.nonEmpty && !kinds.contains('?') &&
      options.get("samplePct") == null
    if (ok) {
      countPushed = true
      aggKinds = kinds
      required = StructType(kinds.map {
        case 'c' => StructField("count", LongType, nullable = false)
        case 'n' => StructField("min_key", StringType, nullable = true)
        case 'x' => StructField("max_key", StringType, nullable = true)
      })
    }
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, keys, range) = KeyRange.classify(filters)
    pushed = supported
    keyFilter = keys
    keyRange = range
    filters.filterNot(supported.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The footer aggregate scan when count/min/max was pushed; otherwise a
    * [[ShardpackLocalScan]] when the scan qualifies for a driver-side read
    * ([[ShardpackScan.localRead]]), else the distributed [[ShardpackScan]].
    */
  override def build(): Scan =
    if (countPushed) new ShardpackFooterAggScan(paths, required, aggKinds)
    else {
      val scan = new ShardpackScan(paths, required, keyFilter,
        options.getBoolean("verifyChecksums", true),
        Option(options.get("maxFilesPerTrigger")).map(_.toInt), bucketN,
        // partial read (docs/draft.md:126): only named entries are decoded
        Option(options.get("entryNames"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
        keyRange,
        Option(options.get("maxBytesPerPartition")).map(_.toLong)
          .getOrElse(ShardpackFormat.DefaultShardCap),
        limit, None,
        Option(options.get("samplePct")).map(_.toInt))
      scan.localRead.fold(_ => scan, new ShardpackLocalScan(scan, _))
    }
}

/** The listed shards of a scan seen through each directory's sidecar: the
  * ones a pushed key set or range may touch ([[candidates]]) and whether
  * the sidecar accounts for every listed shard ([[covered]]). Both scan
  * kinds pick their shards here.
  *
  * One sidecar per source directory; a shard is matched against its OWN
  * directory's index, loaded on first use. Entries are honored only on a
  * (name, len) match against the fresh listing, so a stale sidecar never
  * hides a new or rewritten shard. The pushed predicate is the part-touch
  * function, so a PARTITIONED sidecar ([[ShardpackIndex.PartTarget]]+
  * shards) loads only the part files whose key span the predicate
  * touches; part-level EXCLUSION of the untouched parts' shards holds
  * only under the sidecar's listing-signature proof (see
  * [[ShardpackIndex.pruned]]).
  */
private[shardpack] final class ShardPick(paths: Seq[String],
    listed: Seq[org.apache.hadoop.fs.FileStatus],
    keys: Option[Set[String]], range: Option[KeyRange]) {
  private def touches(span: Option[(String, String)]): Boolean =
    ShardStats.mayHold(span, keys, range)

  private lazy val byDir: Map[String, ShardpackIndex.PrunedIndex] = {
    val listedByDir = listed.groupBy(_.getPath.getParent.toString)
    paths.map { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(HadoopConfs.session())
      val q = fs.makeQualified(dir).toString
      val names = listedByDir.getOrElse(q, Seq.empty)
        .map(st => (st.getPath.getName, st.getLen))
      q -> ShardpackIndex.pruned(fs, dir, names, touches)
    }.toMap
  }

  private def index(st: org.apache.hadoop.fs.FileStatus) =
    byDir.get(st.getPath.getParent.toString)

  /** The validated sidecar entry of a listed shard, if any. */
  def entryOf(st: org.apache.hadoop.fs.FileStatus): Option[ShardpackIndex.Entry] =
    index(st).flatMap(_.entryOf(st.getPath.getName, st.getLen))

  private def excluded(st: org.apache.hadoop.fs.FileStatus): Boolean =
    index(st).exists(_.excluded(st.getPath.getName, st.getLen))

  /** Of `shards`, those the pushed predicate may touch: all of them when
    * nothing is pushed; otherwise every shard that is neither excluded
    * by its part nor indexed with an envelope the predicate misses.
    * Unindexed shards stay in (their readers prune on the footer).
    */
  def candidates(shards: Seq[org.apache.hadoop.fs.FileStatus]): Seq[org.apache.hadoop.fs.FileStatus] =
    if (keys.isEmpty && range.isEmpty) shards
    else shards.filter(st => !excluded(st) && entryOf(st).forall(e => touches(e.range)))

  /** Every listed shard is indexed or excluded by a verified part. */
  def covered: Boolean = listed.forall(st => excluded(st) || entryOf(st).isDefined)
}

final class ShardpackScan(paths: Seq[String], required: StructType,
    keyFilter: Option[Set[String]], verify: Boolean,
    maxFilesPerTrigger: Option[Int] = None, bucketN: Option[Int] = None,
    entryNames: Option[Set[String]] = None,
    keyRange: Option[KeyRange] = None,
    splitBytes: Long = ShardpackFormat.DefaultShardCap,
    limit: Option[Int] = None,
    rewriteOp: Option[ShardpackRowLevelOperation] = None,
    samplePct: Option[Int] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import ShardpackDataSource._

  /** Compile-time keys ∩ any runtime (join-driven) key filter. */
  private[shardpack] var effectiveKeys: Option[Set[String]] = keyFilter

  /** Runtime filtering (DPP-style): after a join's build side materializes,
    * Spark hands us its key values; readers then prune whole shards via the
    * footer key-range stats and skip non-matching records — the dynamic
    * twin of the static pushdown, crucial when the probe side is a 100 TB
    * bucket and the build side names a few thousand keys.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val col = org.apache.spark.sql.connector.expressions.Expressions.column _
    // ONE attribute only: with several, Spark wraps them in a named_struct
    // IN-subquery no V1 filter can express and the runtime filter is lost.
    // Rewrite scans take exact group identity (_shard); everything else
    // keeps key (DPP joins, keyed enrichment).
    if (rewriteOp.isDefined) Array(col("_shard")) else Array(col("key"))
  }

  /** Exact shard-file runtime filter (row-level group filtering). */
  private[shardpack] var effectiveShards: Option[Set[String]] = None

  override def filter(filters: Array[Filter]): Unit = {
    KeyRange.classify(filters)._2.foreach { runtime =>
      effectiveKeys = Some(effectiveKeys.fold(runtime)(_ intersect runtime))
    }
    val shardSets = filters.collect {
      case In("_shard", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
      case EqualTo("_shard", v: String) => Set(v)
    }
    if (shardSets.nonEmpty) {
      val runtime = shardSets.reduce(_ intersect _)
      effectiveShards = Some(effectiveShards.fold(runtime)(_ intersect runtime))
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Size statistics from the shard listing (driver already has it for
    * planning) — lets Catalyst auto-broadcast small shardpack tables in
    * joins instead of defaulting to sort-merge. A pushed key filter caps
    * the estimate at one record per key so point lookups always land on
    * the broadcast side.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val totalBytes = shardList.map(_.getLen).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(effectiveKeys match {
          // keyed lookup: a handful of records, not the bucket
          case Some(ks) => math.min(totalBytes, ks.size.toLong * 1024L)
          case None => totalBytes
        })
      override def numRows(): java.util.OptionalLong =
        effectiveKeys.fold(java.util.OptionalLong.empty())(ks =>
          java.util.OptionalLong.of(ks.size.toLong))
    }
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    {
      require(paths.size == 1, "shardpack streaming source requires exactly one path")
      new ShardpackMicroBatchStream(paths.head, required, effectiveKeys, verify,
        maxFilesPerTrigger, entryNames, keyRange, samplePct)
    }
  private[shardpack] def describe(kind: String): String =
    s"shardpack ${paths.mkString(",")} keys=${effectiveKeys.fold("*")(_.mkString(","))} " +
      s"cols=${required.fieldNames.mkString(",")}${limit.fold("")(l => s" limit=$l")} " +
      s"scan=$kind"

  override def description(): String =
    describe(localRead.fold(why => s"batch ($why)", _ => "batch"))

  // one listing (across all paths) shared by estimateStatistics,
  // planInputPartitions, outputPartitioning and localRead
  private lazy val shardList: Seq[org.apache.hadoop.fs.FileStatus] =
    paths.flatMap { p =>
      val dir = new Path(p)
      listShards(dir.getFileSystem(HadoopConfs.session()), dir)
    }

  // the sidecar view for the compile-time predicate; planning reuses it
  // until a runtime filter changes the key set
  private lazy val compiledPick = new ShardPick(paths, shardList, keyFilter, keyRange)

  /** The candidate shards of a keyed lookup the driver answers itself
    * ([[ShardpackLocalScan]]), or why this scan stays distributed. The
    * driver reads when all of these hold: a key set is pushed; the table
    * is not bucketed (catalog tables keep `KeyGroupedPartitioning` for
    * storage-partitioned joins); it is not a row-level rewrite; every
    * listed shard has a (name, len)-valid sidecar entry or is excluded by
    * a signature-verified partitioned root; at most
    * [[ShardpackLocalScan.MaxShards]] shards remain candidates; and their
    * summed length is within [[ShardpackLocalScan.MaxBytes]] and within
    * one batch partition (`maxBytesPerPartition`), so a shard the batch
    * scan would split into record ranges stays distributed.
    */
  private[shardpack] lazy val localRead: Either[String, Seq[org.apache.hadoop.fs.FileStatus]] =
    if (rewriteOp.isDefined) Left("row-level rewrite")
    else if (keyFilter.isEmpty) Left("no pushed key set")
    else if (bucketN.isDefined) Left("bucketed table")
    else if (!compiledPick.covered) Left("a listed shard is not in the sidecar")
    else {
      val cands = compiledPick.candidates(shardList)
      val bytes = cands.map(_.getLen).sum
      val budget = math.min(ShardpackLocalScan.MaxBytes, splitBytes)
      if (cands.size > ShardpackLocalScan.MaxShards)
        Left(s"${cands.size} candidate shards > ${ShardpackLocalScan.MaxShards}")
      else if (bytes > budget) Left(s"$bytes candidate bytes > $budget")
      else Right(cands)
    }

  /** bucket id parsed from the writer's `-b<id>-<seq>.shardpack` suffix;
    * None for shards from unbucketed writers (foreign/compacted files).
    */
  private def bucketIdOf(name: String): Option[Int] =
    ShardpackDataSource.BucketedName.findFirstMatchIn(name).map(_.group(1).toInt)

  private lazy val bucketed: Option[Seq[(org.apache.hadoop.fs.FileStatus, Int)]] =
    bucketN.flatMap { _ =>
      val ids = shardList.map(st => bucketIdOf(st.getPath.getName))
      if (ids.nonEmpty && ids.forall(_.isDefined))
        Some(shardList.zip(ids.map(_.get)))
      else None // mixed/foreign layout: fall back to unknown partitioning
    }

  /** Group-based row-level rewrites replace exactly the shards the rewrite
    * scan planned: the LATEST planning result is snapshotted onto the
    * operation (replace, not accumulate — an earlier pre-runtime-filter
    * planning must not inflate the replaced set beyond what the execution
    * actually rewrote).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val parts = planPartitions0()
    rewriteOp.foreach(_.setPlanned(parts.collect {
      case ShardInputPartition(f, _, _, _) => f
      case BucketedShardInputPartition(f, _, _) => f
    }.toSet))
    parts
  }

  private def shardAllowed(st: org.apache.hadoop.fs.FileStatus): Boolean =
    effectiveShards.forall(_.contains(st.getPath.toString))

  private def planPartitions0(): Array[InputPartition] = bucketed match {
    case Some(withIds) => withIds.filter(p => shardAllowed(p._1)).map { case (st, b) =>
      BucketedShardInputPartition(st.getPath.toString, st.getLen, b): InputPartition
    }.toArray
    case None =>
      // Sidecar-assisted planning: with a pushed key filter and a built
      // [[ShardpackIndex]], shards whose indexed envelope misses every key
      // are not even SCHEDULED — at 400k shards a point lookup plans a
      // handful of tasks, not 400k self-pruning ones; shards without a
      // valid entry fall back to per-task footer pruning. The sidecar is
      // read only when a filter can prune or an oversized shard could split.
      val pick =
        if (effectiveKeys == keyFilter) compiledPick
        else new ShardPick(paths, shardList, effectiveKeys, keyRange)
      val planned = pick.candidates(shardList.filter(shardAllowed))
      // Pushed LIMIT with no key predicates: schedule only the prefix of
      // shards whose cumulative INDEXED record count reaches the limit.
      // Shards without a sidecar entry contribute an unknown (treated-as-0)
      // count, so the prefix only ever stops early on certainty — Spark's
      // retained global limit does the final trim either way. A sampled
      // read disables the cap: indexed counts are UNSAMPLED, and the reader
      // drops ~(100-pct)% of the prefix's records afterwards, so cutting on
      // raw counts would under-schedule and return fewer than `lim` rows
      // even when the sampled view holds ≥ lim.
      val capped = limit match {
        case Some(lim) if effectiveKeys.isEmpty && keyRange.isEmpty && samplePct.isEmpty =>
          var acc = 0L
          planned.takeWhile { st =>
            val take = acc < lim
            acc += pick.entryOf(st).map(_.nRecords).getOrElse(0L)
            take
          }
        case _ => planned
      }
      // Record-range SPLITTING: a shard far above maxBytesPerPartition (a
      // foreign/compacted giant) fans out into record ranges — each task
      // seeks straight to its first record via the footer offset index (the
      // spec's O(1) random access, docs/draft.md:124-127), so scan
      // parallelism is independent of the shard layout. Needs the sidecar's
      // record count; unindexed shards stay one-task (status quo).
      capped.flatMap { st =>
        val splits = pick.entryOf(st) match {
          case Some(e) if st.getLen > splitBytes && e.nRecords > 1 =>
            val k = math.min(((st.getLen + splitBytes - 1) / splitBytes), e.nRecords).toInt
            val per = (e.nRecords + k - 1) / k
            (0L until e.nRecords by per).map(start =>
              ShardInputPartition(st.getPath.toString, st.getLen,
                start, math.min(start + per, e.nRecords)))
          case _ => Seq(ShardInputPartition(st.getPath.toString, st.getLen))
        }
        splits.map(sp => sp: InputPartition)
      }.toArray
  }

  /** Storage-partitioned joins: when every shard carries its bucket id, the
    * scan reports `KeyGroupedPartitioning(bucket(N, key))`; two shardpack
    * tables bucketed with the same N then join with ZERO shuffle exchanges
    * (`spark.sql.sources.v2.bucketing.enabled`), because Spark matches the
    * transform through the catalog's shared [[BucketBound]] function.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (bucketN, bucketed) match {
      case (Some(n), Some(withIds)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, "key")),
          withIds.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          shardList.size)
    }

  /** Rewrite scans read at GROUP granularity: key predicates (static or
    * runtime) prune which SHARDS are planned above, but every record of a
    * planned shard must flow through — unmatched rows in an affected shard
    * are written back unchanged by the ReplaceData query, so record-level
    * skipping here would silently drop them.
    */
  override def createReaderFactory(): ShardpackReaderFactory =
    ShardpackReaderFactory(required,
      if (rewriteOp.isDefined) None else effectiveKeys, verify,
      HadoopConfs.serializable(), entryNames,
      if (rewriteOp.isDefined) None else keyRange, samplePct)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ShardsPrunedMetric, new RecordsSkippedMetric)
}

/** A sidecar-indexed keyed lookup answered on the driver. Spark plans a
  * `LocalScan` as a bare `LocalTableScanExec`, whose `collect()` returns
  * the rows with no Spark job: on a sorted bucket a point lookup costs
  * planning plus one shard read, not a job launch
  * ([[ShardpackScan.localRead]] decides when). The rows come from the
  * batch scan's own reader factory, one [[ShardSlice]] and
  * [[ShardpackPartitionReader]] per candidate shard, so footer pruning,
  * record skipping, entry selection, sampling and checksum verification
  * (`verifyChecksums`) are exactly the batch path's. Size statistics are
  * the batch scan's key-capped estimate, so a lookup joined to a table
  * still lands on the broadcast side.
  *
  * Snapshot semantics: `rows()` runs at physical planning, once per
  * `QueryExecution`. Re-collecting the SAME Dataset after the bucket
  * changes (a [[ShardpackOps.merge]], say) returns the rows read at its
  * first planning; a fresh Dataset plans and reads again. A batch scan
  * fixes its input partitions (the shard files) at its first execution
  * and re-reads those files on every collect: while they all exist it
  * returns what it returned before (shards are immutable, and shards a
  * merge adds are not among them); once the merge has retired one, the
  * collect fails with `FileNotFoundException`.
  */
final class ShardpackLocalScan(batch: ShardpackScan,
    private[shardpack] val shards: Seq[org.apache.hadoop.fs.FileStatus])
    extends org.apache.spark.sql.connector.read.LocalScan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = batch.readSchema()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    batch.estimateStatistics()
  override def description(): String =
    batch.describe(s"local (${shards.size} candidate shards, ${shards.map(_.getLen).sum} bytes, " +
      "every listed shard in the sidecar)")

  override def rows(): Array[InternalRow] = {
    val factory: ShardpackReaderFactory = batch.createReaderFactory()
    val out = ArrayBuffer.empty[InternalRow]
    shards.foreach { st =>
      val reader: ShardpackPartitionReader =
        factory.createReader(ShardInputPartition(st.getPath.toString, st.getLen))
      try while (reader.next()) out += reader.get().copy()
      finally reader.close()
    }
    out.toArray
  }
}

object ShardpackLocalScan {
  /** Limits of a driver-side lookup. The driver walks its candidate shards
    * one after another; a job walks them in parallel after a launch, so
    * the serial walk must cost less than the launch it saves. Plan +
    * collect of `key IN (…)` with one key per candidate shard, p50 driver
    * read vs batch scan, local[2] on a 4-core host: 4.7 MB shards 33 vs
    * 65 ms (1 candidate), 41 vs 63 ms (4), 60 vs 88 ms (8); 31.6 MB shards
    * 66 vs 116 ms (1), 118 vs 137 ms (4), 129 vs 121 ms (5); 248 MB shards
    * 212 vs 245 ms (1), 342 vs 220 ms (2). The summed candidate length
    * decides: over several shards the driver read wins up to ~130 MB and
    * loses beyond, so [[MaxBytes]] is the binding limit for large shards.
    * One shard above it would still read faster on the driver (the same
    * walk, no launch) but stays a job, so planning never walks or holds
    * more than [[MaxBytes]] of shards on the driver.
    */
  val MaxShards = 4
  val MaxBytes: Long = 128L << 20
}

/** DSv2 custom metrics: pushdown effectiveness surfaced in the SQL UI —
  * how many whole shards the footer envelopes pruned and how many record
  * blocks the key filter skipped from their length prefix. At 100 TB these
  * two numbers ARE the selective-scan story, visible per query.
  */
final class ShardsPrunedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "shardsPruned"
  override def description(): String = "shards pruned by footer key envelopes"
}
final class RecordsSkippedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "recordsSkipped"
  override def description(): String = "record blocks skipped by key pushdown"
}
private[shardpack] final case class TaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

final case class ShardInputPartition(file: String, length: Long,
    recStart: Long = 0L, recEnd: Long = -1L) extends InputPartition

/** Footer-only aggregate scan ([[ShardpackScanBuilder.pushAggregation]]):
  * one partition per shard, each emitting a single partial row — record
  * count from the EOF index, key envelope from the footer's ShardStats.
  * Spark's final aggregate combines the partials (SUM / MIN / MAX). A
  * shard without stamped stats (foreign writer) scans its record HEADERS
  * for the key extremes — still no entry decode, decompression or
  * checksum work.
  */
final class ShardpackFooterAggScan(paths: Seq[String], required: StructType,
    kinds: Seq[Char]) extends Scan with Batch {
  import ShardpackDataSource._
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val parts = paths.flatMap { p =>
      val dir = new Path(p)
      listShards(dir.getFileSystem(HadoopConfs.session()), dir)
        .map(st => ShardInputPartition(st.getPath.toString, st.getLen): InputPartition)
    }
    // empty bucket: one synthetic partition (count 0, null extremes) so the
    // final aggregate still sees a row
    if (parts.isEmpty) Array(ShardInputPartition("", 0L)) else parts.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ShardpackFooterAggReaderFactory(HadoopConfs.serializable(), kinds)
  override def description(): String =
    s"shardpack footer-count ${paths.mkString(",")} aggs=${kinds.mkString}"
}

final case class ShardpackFooterAggReaderFactory(hconf: SerializableHadoopConf,
    kinds: Seq[Char]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (file, len) = p match { case ShardInputPartition(f, l, _, _) => (f, l) }
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _

      private def partial(): (Long, String, String) = {
        if (file.isEmpty) return (0L, null, null)
        val path = new Path(file)
        val fs = path.getFileSystem(hconf.value)
        val e = ShardpackIndex.probeEntry(fs, path, len)
        val n = e.nRecords
        if (!kinds.exists(k => k == 'n' || k == 'x')) return (n, null, null)
        e.range match {
          case Some((lo, hi)) => (n, lo, hi)
          case None if n == 0 => (n, null, null)
          case None =>
            // stats-less shard: header-only key sweep (no entry decode)
            val ds = new java.io.DataInputStream(
              new java.io.BufferedInputStream(fs.open(path), 1 << 20))
            try {
              var lo: String = null; var hi: String = null
              var i = 0L
              while (i < n) {
                val recLen = ds.readInt()
                val block = new Array[Byte](recLen)
                ds.readFully(block)
                val key = ShardpackFormat.decodeKey(block)
                if (lo == null || KeyOrd.lt(key, lo)) lo = key
                if (hi == null || KeyOrd.gt(key, hi)) hi = key
                i += 1
              }
              (n, lo, hi)
            } finally ds.close()
        }
      }

      override def next(): Boolean =
        if (done) false
        else {
          val (n, lo, hi) = partial()
          row = new GenericInternalRow(kinds.map {
            case 'c' => n: Any
            case 'n' => if (lo == null) null else UTF8String.fromString(lo)
            case 'x' => if (hi == null) null else UTF8String.fromString(hi)
          }.toArray)
          done = true
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** A shard known to hold exactly one key bucket (sorted-by-bucket writer);
  * the partition key feeds Spark's KeyGroupedPartitioning grouping.
  */
final case class BucketedShardInputPartition(file: String, length: Long, bucket: Int)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

final case class ShardpackReaderFactory(required: StructType,
    keyFilter: Option[Set[String]], verify: Boolean,
    hconf: SerializableHadoopConf,
    entryNames: Option[Set[String]] = None,
    keyRange: Option[KeyRange] = None,
    samplePct: Option[Int] = None) extends PartitionReaderFactory {
  private def slice(p: InputPartition): ShardSlice = {
    val (file, length, rs, re) = p match {
      case ShardInputPartition(f, l, rs, re) => (f, l, rs, re)
      case BucketedShardInputPartition(f, l, _) => (f, l, 0L, -1L)
    }
    new ShardSlice(file, length, hconf.value, keyFilter, keyRange, rs, re, samplePct)
  }

  override def createReader(p: InputPartition): ShardpackPartitionReader =
    new ShardpackPartitionReader(slice(p), required, verify, entryNames)

  /** Payload-free scans (no `entries` column requested — counts, metadata
    * profiles, key listings) go through the VECTORIZED path: record headers
    * decoded straight into `ColumnarBatch` vectors, no per-row
    * `InternalRow` allocation, downstream operators stay columnar until
    * Spark's ColumnarToRow boundary.
    */
  override def supportColumnarReads(p: InputPartition): Boolean =
    !required.fieldNames.contains("entries")

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ShardpackColumnarReader(slice(p), required)
}

/** The part of one shard a reader task reads, and everything both readers
  * do before decoding a record. The footer (the EOF index) is read first,
  * with one seek. With a pushed key filter or range, the footer's key
  * envelope and Bloom can prune the WHOLE shard through
  * [[ShardpackFormat.ShardStats.mayContain]]: one footer read, zero
  * record bytes. At 100 TB a point lookup touches ~16 bytes per
  * non-matching shard. A pruned shard reads as an empty slice. Otherwise
  * the records [recStart, recEnd) stream from a 1 MiB-buffered input,
  * opened on the first read and seeked straight to the first record via
  * the footer offset index (O(1) random access, `docs/draft.md:124`).
  * `keep` is the per-record test: pushed keys, pushed range and the
  * deterministic sample. The records it rejects are skipped from their
  * length prefix (no entry decode, decompression or checksum work) and
  * counted in `skipped`.
  */
private[shardpack] final class ShardSlice(val file: String, fileLen: Long,
    hadoopConf: Configuration, keyFilter: Option[Set[String]],
    keyRange: Option[KeyRange], recStart: Long, recEnd: Long,
    samplePct: Option[Int]) {
  private val fs = new Path(file).getFileSystem(hadoopConf)
  private val footer = ShardpackIndex.footer(fs, new Path(file), fileLen)
  val pruned: Boolean =
    !ShardStats.mayContain(footer.shardMetadata, keyFilter, keyRange)

  /** Ordinal of the next record; the slice ends before `end`. */
  var idx: Int = math.min(recStart, Int.MaxValue.toLong).toInt
  val end: Int =
    if (pruned) 0
    else if (recEnd < 0) footer.offsets.length
    else math.min(recEnd, footer.offsets.length.toLong).toInt
  var skipped = 0L

  private var opened = false
  lazy val stream: java.io.DataInputStream = {
    opened = true
    val raw = fs.open(new Path(file))
    if (recStart > 0 && recStart < footer.offsets.length)
      raw.seek(footer.offsets(recStart.toInt))
    new java.io.DataInputStream(new java.io.BufferedInputStream(raw, 1 << 20))
  }

  // deterministic in-scan sampling: keep keys whose cross-engine
  // polynomial hash lands below the percentage
  private val sampled: String => Boolean = samplePct match {
    case Some(pct) => k => ShardpackDataSource.keyHashPct(k) < pct
    case None => _ => true
  }
  val keep: String => Boolean = key =>
    keyFilter.forall(_.contains(key)) && keyRange.forall(_.contains(key)) && sampled(key)

  def metrics: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TaskMetric("shardsPruned", if (pruned) 1L else 0L),
      TaskMetric("recordsSkipped", skipped))

  def close(): Unit = if (opened) stream.close()
}

/** Row reader: decodes each kept record of its [[ShardSlice]] in full. */
final class ShardpackPartitionReader(slice: ShardSlice, required: StructType,
    verify: Boolean, entryNames: Option[Set[String]])
    extends PartitionReader[InternalRow] {

  private val entriesField = required.fields.zipWithIndex
    .find(_._1.name == "entries")
  private val entrySubfields: Array[String] = entriesField
    .map(_._1.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fieldNames)
    .getOrElse(Array.empty)
  private val wantEntryData = entrySubfields.contains("data")

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (slice.idx < slice.end) {
      slice.idx += 1
      // streaming decode: key-filtered misses and entryNames-filtered
      // sibling payloads are SKIPPED in the stream (buffer discard, or a
      // seek when the skip outruns the 1 MiB buffer) — never read, copied,
      // decompressed or checksummed
      ShardpackFormat.decodeRecordStreaming(slice.stream, None, wantEntryData, verify,
          entryNames, keep = slice.keep) match {
        case Some(rec) =>
          current = toRow(rec)
          return true
        case None => slice.skipped += 1 // key miss — record already skipped
      }
    }
    false
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    slice.metrics

  private def toRow(rec: Record): InternalRow = {
    val values = required.fields.map { f =>
      f.name match {
        case "key" => UTF8String.fromString(rec.key)
        case "metadata" => rec.metadata
        case "entries" =>
          new GenericArrayData(rec.entries.map { e =>
            val ev: Array[Any] = entrySubfields.map {
              case "file_name" => UTF8String.fromString(e.fileName)
              case "content_type" => UTF8String.fromString(e.contentType)
              case "encoding" => UTF8String.fromString(e.encoding)
              case "data" => e.data
            }
            new GenericInternalRow(ev): Any
          }.toArray)
        case "_shard" => UTF8String.fromString(slice.file)
        case "_pos" => (slice.idx - 1).toLong: java.lang.Long
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def get(): InternalRow = current
  override def close(): Unit = slice.close()
}

/** Vectorized reader for payload-free scans: fills OnHeap column vectors
  * with (key, metadata) straight from record-block headers — entry headers
  * and payload bytes are never parsed, decompressed or checksummed (there
  * is nothing to verify without payloads). Shard pruning and pushed key
  * filters apply exactly as in the row reader: both read a [[ShardSlice]].
  */
final class ShardpackColumnarReader(slice: ShardSlice, required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val BatchRows = 4096
  private val vectors = OnHeapColumnVector.allocateColumns(BatchRows, required)
  private val batch = new ColumnarBatch(vectors.toArray)
  private val keyPos = required.fieldNames.indexOf("key")
  private val metaPos = required.fieldNames.indexOf("metadata")
  private val shardPos = required.fieldNames.indexOf("_shard")
  private val posPos = required.fieldNames.indexOf("_pos")
  private val fileUtf8 = slice.file.getBytes("UTF-8")

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    var rows = 0
    while (rows < BatchRows && slice.idx < slice.end) {
      slice.idx += 1
      val recLen = slice.stream.readInt()
      val block = new Array[Byte](recLen)
      slice.stream.readFully(block)
      val (key, meta) = ShardpackFormat.decodeKeyMeta(block)
      if (slice.keep(key)) {
        if (keyPos >= 0)
          vectors(keyPos).putByteArray(rows, key.getBytes("UTF-8"))
        if (metaPos >= 0) {
          if (meta == null) vectors(metaPos).putNull(rows)
          else vectors(metaPos).putByteArray(rows, meta)
        }
        if (shardPos >= 0) vectors(shardPos).putByteArray(rows, fileUtf8)
        if (posPos >= 0) vectors(posPos).putLong(rows, (slice.idx - 1).toLong)
        rows += 1
      } else slice.skipped += 1
    }
    batch.setNumRows(rows)
    rows > 0
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    slice.metrics

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    slice.close()
  }
}

// ──────────────── row-level operations (UPDATE / MERGE / DELETE) ────────────────

/** One SQL row-level command (group-based copy-on-write). Spark drives the
  * lifecycle: a rewrite SCAN over the table (this operation's scan builder)
  * feeds the recombined rows into this operation's WRITE; at commit the
  * write publishes the replacement shards and drops exactly the shards the
  * scan planned — the "groups" of the rewrite.
  *
  * Group selection is two-stage, both at SHARD granularity only:
  * static key predicates prune via sidecar/footer envelopes at planning,
  * and Spark's runtime group filtering (a matching-rows subquery over the
  * ORIGINAL table) hands the matched key set to [[ShardpackScan.filter]]
  * — so `UPDATE … WHERE key = 'k'` rewrites the one shard whose envelope
  * covers 'k', not the bucket. At 100 TB that bounds the rewrite I/O to
  * the shards actually touched, the same cost model as
  * [[ShardpackOps.merge]].
  */
final class ShardpackRowLevelOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    bucketN: Option[Int])
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** Shards the rewrite scan planned LAST (volatile snapshot, not an
    * accumulator — see [[ShardpackScan.planInputPartitions]]).
    */
  @volatile private var planned: Set[String] = Set.empty
  private[shardpack] def setPlanned(files: Set[String]): Unit = planned = files

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShardpackRewriteScanBuilder(Seq(path), options, this, bucketN)

  /** `_shard` rides along with every rewrite: it IS the group identity.
    * Spark's runtime group filter projects it from the matched rows, and
    * carried-over rows are written through the metadata-projecting task —
    * which is also the path that strips Spark's internal row-operation
    * column before rows reach the data writer.
    */
  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_shard"))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val base = new ShardpackWriteBuilder(path, info, bucketN).build()
        new ShardpackReplaceWrite(base, path, () => planned)
      }
    }

  override def description(): String = s"shardpack $cmd $path"
}

/** Scan builder for the rewrite side of a row-level command. Filters are
  * accepted for shard-envelope pruning but ALL stay residual (returned
  * unhandled): the group-based contract requires every row of a planned
  * shard to reach the rewrite query, which re-applies the command's own
  * predicates. No aggregate/limit pushdown — a rewrite is a full read of
  * the affected groups by definition.
  */
final class ShardpackRewriteScanBuilder(paths: Seq[String],
    options: CaseInsensitiveStringMap, op: ShardpackRowLevelOperation,
    bucketN: Option[Int])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  import ShardpackDataSource._

  private var required: StructType = Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private var pushed: Array[Filter] = Array.empty
  private var keyFilter: Option[Set[String]] = None
  private var keyRange: Option[KeyRange] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, keys, range) = KeyRange.classify(filters)
    pushed = supported
    keyFilter = keys
    keyRange = range
    filters // everything residual: group pruning only, no row skipping
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ShardpackScan(paths, required, keyFilter,
      options.getBoolean("verifyChecksums", true), None, bucketN, None,
      keyRange,
      Option(options.get("maxBytesPerPartition")).map(_.toLong)
        .getOrElse(ShardpackFormat.DefaultShardCap),
      None, Some(op))
}

/** Write side of a row-level command: the normal append write (staged
  * temps, checked renames, distribution/ordering preserved for bucketed
  * tables), plus — after the new generation is visible — deletion of the
  * replaced shards and [[ShardpackIndex.carry]]: an indexed table stays
  * indexed (replacement shards probed in, replaced ones dropped), so the
  * next keyed read still plans one shard. The pre-swap listing is taken
  * when the job starts, before any task can publish a shard. Same
  * crash-safe order as [[ShardpackOps.retire]]: a crash mid-commit
  * leaves transient duplicates (old + new visible), never a window with
  * neither.
  */
final class ShardpackReplaceWrite(base: Write, path: String,
    replaced: () => Set[String]) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  private def rdo = base.asInstanceOf[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    rdo.requiredDistribution()
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    rdo.requiredOrdering()
  override def requiredNumPartitions(): Int = rdo.requiredNumPartitions()
  override def description(): String = s"shardpack replace-groups $path"

  override def toBatch: BatchWrite = {
    val inner = base.toBatch
    val dir = new Path(path)
    val fs = dir.getFileSystem(HadoopConfs.session())
    new BatchWrite {
      @volatile private var listed = Seq.empty[org.apache.hadoop.fs.FileStatus]
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
        listed = ShardpackDataSource.listShards(fs, dir)
        inner.createBatchWriterFactory(info)
      }
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        inner.commit(messages) // replacement shards renamed IN first
        ShardpackOps.retire(fs, dir, listed, replaced().toSeq.map(new Path(_)))
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        inner.abort(messages)
    }
  }
}

// ─────────────────────────── write path ───────────────────────────

final class ShardpackWriteBuilder(path: String, info: LogicalWriteInfo,
    bucketN: Option[Int] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** Layout-directing writes ([[RequiresDistributionAndOrdering]]):
    *
    *   - Bucketed catalog tables (`PARTITIONED BY (bucket(N, key))`): rows
    *     are CLUSTERED by `bucket(N, key)` (resolved to [[BucketBound]]
    *     through the catalog) and sorted by it within each task, so the
    *     writer emits one shard per bucket — the layout scans report for
    *     storage-partitioned joins.
    *   - `.option("sortedWrite", true)`: a GLOBAL key ordering (range
    *     partitioning + in-partition sort). Every shard then covers a
    *     contiguous, pairwise-disjoint key range, so the footer
    *     [minKey,maxKey] stats prune a point lookup to exactly ONE shard.
    *     `targetShards=N` fixes the partition (≈shard) count.
    */
  override def build(): Write = {
    val opts = info.options()
    val sortedWrite = opts.getBoolean("sortedWrite", false)
    val targetShards = opts.getInt("targetShards", 0)
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      private val keyAsc: SortOrder =
        Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING)
      private def bucketAsc(n: Int): SortOrder =
        Expressions.sort(Expressions.bucket(n, "key"), SortDirection.ASCENDING)
      override def requiredDistribution(): Distribution = bucketN match {
        case Some(n) => Distributions.clustered(Array(Expressions.bucket(n, "key")))
        case None if sortedWrite => Distributions.ordered(Array(keyAsc))
        case None => Distributions.unspecified()
      }
      override def requiredOrdering(): Array[SortOrder] = bucketN match {
        case Some(n) => Array(bucketAsc(n))
        case None if sortedWrite => Array(keyAsc)
        case None => Array.empty
      }
      override def requiredNumPartitions(): Int = targetShards
      private def batchWrite = {
        new ShardpackBatchWrite(path, info.schema(), truncateFirst,
          opts.getOrDefault("compression", Codec.None),
          opts.getLong("shardCapBytes", DefaultShardCap),
          Option(opts.get("shardMetadata")).map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray),
          bucketN,
          directOpt = Option(opts.get("directCommit")).map(_.toBoolean))
      }
      override def toBatch: BatchWrite = batchWrite
      // Structured Streaming sink: each micro-batch appends its own shard
      // files (reusing the batch writer/commit machinery keyed by epoch).
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new ShardpackStreamingWrite(batchWrite)
    }
  }
}

/** Micro-batch streaming sink: per-epoch task writers stage dot-temp shards
  * whose FINAL names are a deterministic function of (epochId, partitionId,
  * shard seq). Epoch replays after checkpoint recovery therefore resolve to
  * the same destination names, and commit skips destinations that already
  * exist — re-delivered epochs never double-publish.
  */
final class ShardpackStreamingWrite(inner: ShardpackBatchWrite)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ShardpackEpochWriterFactory(inner.writerFactory)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    inner.commit(messages)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    inner.abort(messages)
}

final case class ShardpackEpochWriterFactory(f: ShardpackWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    f.createEpochWriter(partitionId, taskId, epochId)
}

/** `files` = (staged temp path, final visible name) per rolled shard. */
final case class ShardpackCommit(files: Seq[(String, String)]) extends WriterCommitMessage

final class ShardpackBatchWrite(path: String, schema: StructType, truncateFirst: Boolean,
    codec: String, shardCap: Long, shardMeta: Array[Byte],
    bucketN: Option[Int] = None, directOpt: Option[Boolean] = None) extends BatchWrite {

  /** Direct-commit mode: BATCH task writers conditional-put shards straight
    * to their final names (`create(overwrite=false)` — the portable spelling
    * of S3's `If-None-Match: *` PUT) and job commit promotes NOTHING: zero
    * renames, and on an object store zero server-side copies. Auto-enabled
    * when the path's scheme is in [[ShardpackDataSource.ObjectStoreSchemes]];
    * `.option("directCommit", true/false)` overrides. Tradeoffs, explicit:
    *   - a shard becomes visible at task completion, not job commit — the
    *     transient old+new window an overwrite already had mid-promotion
    *     widens to the job's duration (object PUTs are atomic, so readers
    *     see whole shards or nothing, never a torn file);
    *   - a failed ATTEMPT's completed shards are visible until job
    *     commit/abort sweeps them (names embed the jobUuid, so the sweep is
    *     exact and cannot touch a concurrent job's output);
    *   - streaming epochs NEVER use direct mode: epoch-replay idempotence
    *     needs the deterministic-final-name + commit-time-dedup protocol,
    *     and a replayed epoch's half-written direct shard would be
    *     indistinguishable from a published one on a non-atomic-PUT FS.
    * The real-S3 refinement (initiate multipart upload in the task, complete
    * at job commit — invisible until commit AND zero-copy) needs the
    * AWS SDK, not the Hadoop FileSystem contract; this path is the closest
    * contract-expressible protocol and removes the per-shard copy.
    */
  private[shardpack] val direct: Boolean = directOpt.getOrElse {
    val scheme = Option(new Path(path).toUri.getScheme).getOrElse("")
    ShardpackDataSource.ObjectStoreSchemes.contains(scheme)
  }

  // Validate the incoming schema up front (positions may differ; names must match).
  private val keyIdx = schema.fieldIndex("key")
  private val metaIdx = schema.fieldIndex("metadata")
  private val entriesIdx = schema.fieldIndex("entries")
  Codec.id(codec) // fail fast on unknown codec

  // Job identity carried in every temp name this job stages, so commit's
  // sweep can distinguish our failed-attempt leftovers from a concurrent
  // append job's in-flight temps (which must not be deleted).
  private val jobUuid = UUID.randomUUID().toString.take(8)

  private[shardpack] def writerFactory: ShardpackWriterFactory =
    ShardpackWriterFactory(path, jobUuid, keyIdx, metaIdx, entriesIdx,
      entryFieldIndexes(), codec, shardCap, shardMeta, HadoopConfs.serializable(),
      bucketN, direct)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(HadoopConfs.session())
    if (!fs.exists(dir)) fs.mkdirs(dir)
    writerFactory
  }

  private def entryFieldIndexes(): (Int, Int, Int, Int) = {
    val et = schema(entriesIdx).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    (et.fieldIndex("file_name"), et.fieldIndex("content_type"),
      et.fieldIndex("encoding"), et.fieldIndex("data"))
  }

  /** Job commit: promote each task's staged temp shards to their final
    * names, THEN (for overwrite mode) delete the previous generation.
    * Ordering is chosen so no failure point loses data: a crash before the
    * renames leaves the old generation intact (abort sweeps temps); a crash
    * mid-promotion leaves old + some new visible (transient duplicates for
    * an overwrite, never emptiness). Renames are checked — an already-
    * existing destination with the temp gone means a replayed commit (the
    * streaming sink's deterministic epoch names) and is skipped as success.
    * Only files named in commit messages are promoted; stray output from
    * failed task attempts stays dot-prefixed (invisible to readers) and is
    * swept at the end.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(HadoopConfs.session())
    val previous =
      if (truncateFirst) ShardpackDataSource.listShards(fs, dir).map(_.getPath) else Seq.empty
    val committed = messages.flatMap { case ShardpackCommit(fs_) => fs_ }
    val finalNames = committed.map(_._2).toSet
    committed.foreach { case (tmp, finalName) =>
      val src = fs.makeQualified(new Path(tmp))
      val dst = fs.makeQualified(new Path(dir, finalName))
      if (src == dst) {
        // direct-write commit: the shard was conditional-put at its final
        // name by the task — nothing to promote, zero renames/copies
      } else if (fs.exists(dst)) {
        // replayed epoch commit: destination already published; drop the temp
        if (fs.exists(src)) fs.delete(src, false)
      } else if (!fs.rename(src, dst)) {
        throw new java.io.IOException(s"shardpack commit failed: rename $src -> $dst")
      }
    }
    // overwrite: old generation goes away only after the new one is visible
    previous.filterNot(p => finalNames.contains(p.getName))
      .foreach(p => fs.delete(p, false))
    // Sweep uncommitted leftovers (qualified-path comparison). Scoped to
    // THIS job's uuid: a concurrent append job's staged temps and
    // direct-written shards carry a different jobUuid and are left for its
    // own commit/abort to resolve. Direct mode's failed-attempt orphans sit
    // at FINAL names, so the sweep also covers visible `part-…-$jobUuid-…`
    // shards not named in any commit message (a task that completed shards,
    // then failed and was retried under a fresh attempt uuid).
    val committedTemps = committed.map(t => fs.makeQualified(new Path(t._1)).toString).toSet
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      val staleTemp = n.startsWith(s".graft-tmp-$jobUuid-") &&
        !committedTemps.contains(fs.makeQualified(st.getPath).toString)
      val staleDirect = direct && n.startsWith("part-") && n.contains(s"-$jobUuid-") &&
        n.endsWith(ShardpackDataSource.FileSuffix) && !finalNames.contains(n)
      if (staleTemp || staleDirect) fs.delete(st.getPath, false)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(HadoopConfs.session())
    messages.filter(_ != null).flatMap { case ShardpackCommit(fs_) => fs_ }
      .foreach { case (tmp, _) => fs.delete(new Path(tmp), false) }
  }
}

final case class ShardpackWriterFactory(path: String, jobUuid: String, keyIdx: Int,
    metaIdx: Int, entriesIdx: Int, entryIdxs: (Int, Int, Int, Int), codec: String,
    shardCap: Long, shardMeta: Array[Byte],
    hconf: SerializableHadoopConf, bucketN: Option[Int] = None,
    direct: Boolean = false) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardpackDataWriter(path, jobUuid, partitionId, taskId, None, keyIdx, metaIdx,
      entriesIdx, entryIdxs, codec, shardCap, shardMeta, hconf.value, bucketN, direct)

  /** Streaming variant: epoch-deterministic final shard names. Always
    * staged (direct=false) — see [[ShardpackBatchWrite.direct]].
    */
  def createEpochWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ShardpackDataWriter(path, jobUuid, partitionId, taskId, Some(epochId), keyIdx,
      metaIdx, entriesIdx, entryIdxs, codec, shardCap, shardMeta, hconf.value, bucketN,
      direct = false)
}

/** Task-local shard writer: encodes rows to record blocks, rolls a new shard
  * file whenever the cap would be exceeded (`/root/reference/src/shard/
  * writer.rs:92-94` — but rolling instead of erroring, per
  * `/root/reference/src/bucket.rs:111-121`), stages under dot-temp names.
  * Memory: one encoded record + O(record offsets) per open shard.
  */
final class ShardpackDataWriter(path: String, jobUuid: String, partitionId: Int,
    taskId: Long, epochId: Option[Long], keyIdx: Int, metaIdx: Int, entriesIdx: Int,
    entryIdxs: (Int, Int, Int, Int), codec: String, shardCap: Long,
    shardMeta: Array[Byte], hadoopConf: Configuration = new Configuration(),
    bucketN: Option[Int] = None, direct: Boolean = false)
    extends DataWriter[InternalRow] {

  private val (fnIdx, ctIdx, encIdx, dataIdx) = entryIdxs
  private val fs = new Path(path).getFileSystem(hadoopConf)
  private val uuid = UUID.randomUUID().toString.take(8)
  private val files = ArrayBuffer.empty[(String, String)] // (temp path, final name)
  private var seq = 0
  private var writer: ShardFileWriter = _
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  // per-shard key range, folded into the metadata envelope at finish so
  // readers can prune whole shards on pushed key filters
  private var minKey: String = _
  private var maxKey: String = _
  // bucketed layout: the bucket the open shard belongs to (input arrives
  // bucket-sorted per the write's required ordering, so a change rolls)
  private var currentBucket: Int = -1

  // v3 envelope: per-shard key Bloom, buffered as two primitive long
  // arrays (a true 16 B/record — boxed (Long, Long) tuples cost
  // ~40-48 B/record with object headers, ≈ 200 MB/open writer task at
  // the MaxTrackedKeys valve); past MaxTrackedKeys the stamp degrades
  // to v2 — range-only stats, still correct
  private var keyH1 = new Array[Long](1024)
  private var keyH2 = new Array[Long](1024)
  private var nKeyHashes = 0
  private def trackKeyHash(key: String): Unit = {
    if (nKeyHashes == keyH1.length) {
      keyH1 = java.util.Arrays.copyOf(keyH1, keyH1.length * 2)
      keyH2 = java.util.Arrays.copyOf(keyH2, keyH2.length * 2)
    }
    val (h1, h2) = ShardpackFormat.KeyBloom.hash2(key)
    keyH1(nKeyHashes) = h1
    keyH2(nKeyHashes) = h2
    nKeyHashes += 1
  }

  /** Close the open shard, stamping its key-range + Bloom stats envelope. */
  private def finishShard(): Unit = {
    if (writer != null) {
      val meta =
        if (minKey == null) shardMeta // footer-only shard: no keys, no stats
        else if (nKeyHashes <= ShardpackFormat.KeyBloom.MaxTrackedKeys)
          ShardpackFormat.ShardStats.wrapWithBloom(minKey, maxKey,
            ShardpackFormat.KeyBloom.build(keyH1, keyH2, nKeyHashes), shardMeta)
        else ShardpackFormat.ShardStats.wrap(minKey, maxKey, shardMeta)
      writer.finish(meta)
      minKey = null; maxKey = null
      nKeyHashes = 0
      out = null
    }
  }

  private def roll(): Unit = {
    finishShard()
    // Temp names are attempt-unique (uuid) so retried attempts never collide
    // on create; FINAL names are attempt-independent for streaming epochs so
    // a replayed epoch is idempotent at commit. Batch final names embed BOTH
    // the jobUuid (so direct-mode commit can sweep a failed attempt's
    // orphans without touching a concurrent job's shards) and the attempt
    // uuid (job-uniqueness across retried/speculative attempts).
    // bucketed shards carry their bucket id in the name (read-side grouping)
    val bTag = if (bucketN.isDefined) f"-b$currentBucket%d" else ""
    val finalName = epochId match {
      case Some(e) =>
        f"epoch-$e%06d-part-$partitionId%05d$bTag-$seq%04d${ShardpackDataSource.FileSuffix}"
      case None =>
        f"part-$partitionId%05d-$taskId-$jobUuid-$uuid$bTag-$seq%04d${ShardpackDataSource.FileSuffix}"
    }
    val tempName = s".graft-tmp-$jobUuid-$uuid-$finalName"
    seq += 1
    // direct mode: conditional-put the shard at its FINAL name (create-if-
    // absent = the FileSystem-contract spelling of S3 If-None-Match) — job
    // commit then has nothing to rename or copy
    val p = new Path(path, if (direct) finalName else tempName)
    files += (p.toString -> finalName)
    out = fs.create(p, false)
    writer = new ShardFileWriter(out, shardMeta)
  }

  override def write(row: InternalRow): Unit = {
    val rec = toRecord(row)
    val encoded = ShardpackFormat.encodeRecord(rec, codec)
    val bucketChanged = bucketN.exists { n =>
      val b = BucketKey.bucketOf(row.getUTF8String(keyIdx), n)
      val changed = b != currentBucket
      currentBucket = b
      changed
    }
    if (writer == null || bucketChanged || (writer.bytesWritten > 0 &&
        writer.bytesWritten + encoded.length > shardCap)) roll()
    if (minKey == null || ShardpackFormat.KeyOrd.lt(rec.key, minKey)) minKey = rec.key
    if (maxKey == null || ShardpackFormat.KeyOrd.gt(rec.key, maxKey)) maxKey = rec.key
    if (nKeyHashes <= ShardpackFormat.KeyBloom.MaxTrackedKeys)
      trackKeyHash(rec.key)
    writer.append(encoded)
  }

  private def toRecord(row: InternalRow): Record = {
    val key = row.getUTF8String(keyIdx).toString
    val meta = if (row.isNullAt(metaIdx)) null else row.getBinary(metaIdx)
    val arr = row.getArray(entriesIdx)
    val entries = (0 until arr.numElements()).map { i =>
      val e = arr.getStruct(i, 4)
      Entry(
        e.getUTF8String(fnIdx).toString,
        if (e.isNullAt(ctIdx)) "" else e.getUTF8String(ctIdx).toString,
        if (e.isNullAt(encIdx)) "" else e.getUTF8String(encIdx).toString,
        if (e.isNullAt(dataIdx)) Array.emptyByteArray else e.getBinary(dataIdx))
    }
    Record(key, meta, entries)
  }

  override def commit(): WriterCommitMessage = {
    finishShard()
    ShardpackCommit(files.toSeq)
  }

  override def abort(): Unit = {
    try if (out != null) out.close() catch { case _: Exception => }
    files.foreach { case (tmp, _) =>
      try fs.delete(new Path(tmp), false) catch { case _: Exception => }
    }
  }

  override def close(): Unit = ()
}
