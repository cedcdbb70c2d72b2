package graft.sources.shardpack

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Dataset-level operations over shardpack tables, completing the
  * reference's operation inventory (SURVEY.md §2A) beyond plain scan/write:
  *
  *   - [[pack]] — the spec's `shardpack create` CLI
  *     (`/root/reference/docs/draft.md:136-148`): pack a directory of raw
  *     files into shards, one record per file.
  *   - [[deleteKeys]] — `Bucket::delete`
  *     (`/root/reference/src/bucket.rs:171-183`), re-expressed for immutable
  *     storage: the reference's implementation destroyed co-located keys by
  *     deleting whole shard files (SURVEY.md §3.4 defect 5); here each hit
  *     shard's surviving records are rewritten as one shard and the old
  *     generation swapped out atomically-per-file.
  *   - [[alignedJoin]] — the spec's columnar-by-convention layout
  *     (`docs/draft.md:201-205`): one logical dataset stored as per-column
  *     shardpack directories joined back on key.
  *   - [[overlay]] — the spec's read-time update overlay
  *     (`docs/draft.md:207-211`): a small shardpack of updated records
  *     combined with the base at read time, overlay winning per key.
  *   - [[merge]] — the write-time counterpart of overlay: copy-on-write
  *     upsert folding updates into the bucket, rewriting only the shards
  *     whose key envelope is hit (for updates already on the driver, each
  *     as exactly one key-sorted shard).
  *   - [[compact]] — small-shard compaction, the maintenance counterpart
  *     of the streaming sink's per-epoch appends.
  *
  * Every keyed mutation ends in [[swap]] (write, then [[retire]]): through
  * [[rewrite]], one key-sorted shard per hit shard (the deletes, [[merge]]
  * of driver-resident updates), or with its own grouping ([[compact]], the
  * distributed [[merge]]).
  *
  * Scale notes: alignedJoin and overlay are key-equi joins that Catalyst
  * shuffles on `key` — bucketed layouts co-partition them away; pack
  * streams file bytes through the binaryFile source without driver
  * materialization.
  */
object ShardpackOps {

  /** Pack every file under `inputDir` into a shardpack table at `outDir`.
    * Key = path relative to `inputDir`; content type inferred from the
    * extension; one entry per record named after the file. `metadata`
    * key/value pairs (the CLI's repeatable `--metadata creator=MyName`,
    * `docs/draft.md:142,147`) are stored shard-level: JSON-encoded into the
    * footer envelope's user-metadata slot via the writer's `shardMetadata`
    * option, readable back through `shardpack_metadata`'s footer path.
    */
  def pack(spark: SparkSession, inputDir: String, outDir: String,
      compression: String = ShardpackFormat.Codec.None,
      recordSizeLimit: Long = 1L << 30,
      metadata: Map[String, String] = Map.empty): Unit = {
    // binaryFile yields fully-qualified URIs (file:/…, s3a://…)
    val fs = new Path(inputDir).getFileSystem(HadoopConfs.session())
    // Path.toString matches the path column's form (file:/… single-slash)
    val prefixLen = fs.makeQualified(new Path(inputDir)).toString.length + 1
    val contentType = {
      val ext = lower(element_at(split(col("path"), "\\."), -1))
      when(ext === "json", "application/json")
        .when(ext === "txt", "text/plain")
        .when(ext.isin("jpg", "jpeg"), "image/jpeg")
        .when(ext === "png", "image/png")
        .when(ext === "npy", "application/x-npy")
        .otherwise("application/octet-stream")
    }
    spark.read.format("binaryFile").load(s"$inputDir/*")
      .filter(length(col("content")) <= recordSizeLimit) // CLI --record-size-limit
      .select(
        expr(s"substring(path, ${prefixLen + 1})").as("key"),
        lit(null).cast("binary").as("metadata"),
        array(struct(
          expr(s"substring(path, ${prefixLen + 1})").as("file_name"),
          contentType.as("content_type"),
          lit("").as("encoding"),
          col("content").as("data"))).as("entries"))
      .write.format("shardpack").option("compression", compression)
      .options(if (metadata.isEmpty) Map.empty[String, String]
        else Map("shardMetadata" -> metaJson(metadata)))
      .mode("append").save(outDir)
  }

  /** Deterministic (key-sorted) JSON object for the shard-level user
    * metadata — sorted so identical CLI invocations produce byte-identical
    * footers regardless of flag order.
    */
  private[shardpack] def metaJson(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Retire `old` once the replacement generation is visible in `dir`,
    * then carry the sidecar to the new generation ([[ShardpackIndex.carry]];
    * `before` is the op's pre-swap listing). The tail of every
    * generation swap: the rewrite verbs here and SQL row-level DML
    * ([[ShardpackReplaceWrite]]).
    *
    * The replacement is written straight into `dir` by the batch writer,
    * whose commit promotes staged dot-temps to task-unique final names
    * (object stores: conditional-puts them there directly), so new rows
    * become visible before old ones disappear: a crash mid-swap leaves
    * transient duplicates, never data loss or emptiness. An indexed bucket
    * stays indexed: the replacement shards are probed in and the retired
    * ones leave, so keyed reads after the swap still plan only the shards
    * a key can be in. A bucket without a sidecar still has none.
    *
    * `graceMs` > 0 retires `old` via tombstones instead of deleting: the
    * bytes stay at their paths (a scan planned against generation N keeps
    * reading exactly generation N) while fresh listings see only N+1;
    * [[vacuum]] reclaims the space once the grace deadline passes. Size the
    * grace to the longest query a cluster runs against the bucket.
    */
  private[shardpack] def retire(fs: FileSystem, dir: Path, before: Seq[FileStatus],
      old: Seq[Path], graceMs: Long = 0L): Unit = {
    if (graceMs > 0L) {
      val deadline = System.currentTimeMillis() + graceMs
      ShardpackDataSource.writeTombstones(fs, dir,
        ShardpackDataSource.readTombstones(fs, dir) ++ old.map(_.getName -> deadline))
    } else old.foreach(fs.delete(_, false))
    ShardpackIndex.carry(fs, dir, before.map(_.getPath.getName).toSet)
  }

  /** A shard an op touches, its envelope, and the op's keys it may hold. */
  private case class Hit(st: FileStatus, env: Option[(String, String)], keys: Seq[String])

  /** The listed shards that may hold a key of `keys` inside `range`. The
    * envelope test ([[ShardpackFormat.ShardStats.mayHold]]) runs on
    * sidecar-first envelopes (one read; footer probes only for shards the
    * index doesn't cover); with a key set, each candidate's footer Bloom
    * then rules keys out, so a key it rules out touches nothing, and a hit
    * lists only the keys it admitted. Stats-less shards are always hit.
    */
  private def affected(fs: FileSystem, dir: String, shards: Seq[FileStatus],
      keys: Option[Seq[String]], range: Option[KeyRange] = None): Seq[Hit] =
    ShardpackIndex.envelopes(fs, new Path(dir), shards).flatMap { case (st, env) =>
      lazy val bloom = ShardpackFormat.ShardStats.unwrapBloom(
        ShardpackIndex.footer(fs, st.getPath, st.getLen).shardMetadata)
      val admitted = keys.map(_.filter(k =>
        ShardpackFormat.ShardStats.mayHold(env, Some(Set(k)), range) &&
          bloom.forall(_.mightContain(k))))
      if (admitted.fold(ShardpackFormat.ShardStats.mayHold(env, None, range))(_.nonEmpty))
        Some(Hit(st, env, admitted.getOrElse(Nil)))
      else None
    }

  private def read(spark: SparkSession, st: FileStatus): DataFrame =
    spark.read.format("shardpack").load(st.getPath.toString)

  /** Delete records by key: each AFFECTED shard's survivors become one
    * key-sorted shard ([[rewrite]], one job). Never edits a shard in place
    * (shards are immutable, `docs/draft.md:207-211`).
    *
    * Shard selection uses the footer key-range and Bloom stats the DSv2
    * writer stamps ([[ShardpackFormat.ShardStats]], through [[affected]]):
    * a shard whose [min,max] range misses every delete key, or whose Bloom
    * rules every one out, is left untouched — the rewrite cost is
    * proportional to the shards actually containing deletions, not the
    * bucket size, and each shard's filter names only the keys it admitted.
    * (Stats-less shards — foreign writers — are conservatively rewritten.)
    */
  def deleteKeys(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    // snapshot the old generation BEFORE making the new one visible
    val before = ShardpackDataSource.listShards(fs, new Path(dir))
    val hit = affected(fs, dir, before, Some(keys))
    if (hit.nonEmpty) rewrite(spark, fs, dir, before, hit, h => !col("key").isin(h.keys: _*))
  }

  /** Compact undersized shards into full-cap ones: the maintenance op for
    * the small-file backlog a streaming sink accumulates (one+ shard per
    * epoch×partition). Only shards below `minFill`·cap are read and
    * rewritten — cost scales with the backlog, not the bucket — grouped
    * into ~cap-sized shards, and [[swap]]ped in: new generation visible
    * before old shards are dropped, so a crash mid-swap leaves transient
    * duplicates, never data loss. Readers are unaffected throughout:
    * shards are immutable and appear/disappear atomically via rename.
    *
    * The reference lists compaction-adjacent work (chunked writing, file
    * locking) as open roadmap items (`/root/reference/src/lib.rs:16-26`);
    * this is the immutable-storage formulation.
    *
    * Returns the number of small shards compacted away (0 = nothing to do).
    */
  def compact(spark: SparkSession, dir: String, minFill: Double = 0.5,
      shardCap: Long = ShardpackFormat.DefaultShardCap,
      compression: String = ShardpackFormat.Codec.None,
      graceMs: Long = 0L): Int = {
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    val threshold = math.max(1L, (shardCap * minFill).toLong)
    val listed = ShardpackDataSource.listShards(fs, new Path(dir))
    val small = listed.filter(_.getLen < threshold)
    if (small.length < 2) return 0 // one small shard compacts to itself
    // target partition count so each writer task fills ~one cap-sized shard
    val parts = math.max(1, (small.map(_.getLen).sum / shardCap).toInt + 1)
    swap(fs, dir, listed, small, small.map(read(spark, _)).reduce(_ union _).coalesce(parts),
      Map("compression" -> compression, "shardCapBytes" -> shardCap.toString), graceMs)
    small.length
  }

  /** Remove orphaned staged temp files left by CRASHED jobs. Commit/abort
    * sweeps are deliberately job-scoped (a concurrent job's temps must
    * survive), so a writer that dies without either leaves `.graft-tmp-*`
    * files forever — vacuum deletes those older than `olderThanMs`
    * (default 24 h; any live job's temps are younger than its runtime).
    * Dot-prefixed temps are invisible to readers, so this is pure
    * space/listing hygiene and always safe at or above the threshold.
    * Returns the number of files removed.
    */
  def vacuum(dir: String, olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val d = new Path(dir)
    val fs = d.getFileSystem(HadoopConfs.session())
    if (!fs.exists(d)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    val stale = fs.listStatus(d).filter(st =>
      st.isFile && (st.getPath.getName.startsWith(".graft-tmp-") ||
        st.getPath.getName.startsWith(".graft-tombstones-tmp-")) &&
        st.getModificationTime < cutoff)
    stale.foreach(st => fs.delete(st.getPath, false))
    // expired tombstones: the grace deadline each entry carries is the
    // authority (it already encodes the retire-time grace), so vacuum
    // reclaims exactly the shards whose window has closed
    val now = System.currentTimeMillis()
    val ts = ShardpackDataSource.readTombstones(fs, d)
    val (expired, live) = ts.partition(_._2 <= now)
    if (expired.nonEmpty) {
      // order matters for crash-safety: delete bytes FIRST, then shrink
      // the manifest — a crash in between leaves tombstones naming
      // already-deleted files (harmless, cleaned next vacuum), never a
      // de-tombstoned shard resurfacing beside its replacement
      expired.keys.foreach(n => fs.delete(new Path(d, n), false))
      ShardpackDataSource.writeTombstones(fs, d, live)
    }
    stale.length + expired.size
  }

  /** Sidecar-first bucket profile — the `stats` maintenance verb: one row
    * (n_shards, n_records, total_bytes, min_key, max_key) computed from
    * the INDEX alone ([[ShardpackIndex.stats]], shared with `CALL
    * system.stats`), O(shards) with zero data bytes read — at 100 TB the
    * difference between a catalog ping and a full scan. The sidecar is
    * validated against a fresh listing (every listed shard present at its
    * listed length) and rebuilt via the distributed footer reader when
    * stale, so the next profile is index-only again; shards it still
    * misses are footer-probed, never left out. Driver memory is one Entry
    * per shard (the same bound the CLI's other verbs already carry).
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(HadoopConfs.session())
    val listed = ShardpackDataSource.listShards(fs, p)
    val fresh = ShardpackIndex.load(fs, p).exists(idx =>
      listed.forall(st => idx.get(st.getPath.getName).exists(_.len == st.getLen)))
    if (!fresh) ShardpackIndex.build(spark, dir)
    val s = ShardpackIndex.stats(fs, p, listed)
    import spark.implicits._
    Seq((s.shards.toLong, s.records, s.bytes, s.minKey.orNull, s.maxKey.orNull))
      .toDF("n_shards", "n_records", "total_bytes", "min_key", "max_key")
  }

  /** Rewrite a bucket Z-ORDER clustered on two integer dimensions computed
    * from its rows (SQL expressions over `key`/`metadata`/`entries`) — the
    * `OPTIMIZE … ZORDER BY` maintenance verb for shardpack: the new key is
    * the 8-hex-digit Morton code of the two dims prefixed to the original
    * key, globally range-sorted so shard envelopes tile the z-curve and a
    * 2-D box predicate ([[ZOrder.boxRanges]]) prunes shards wholesale.
    * Dims are clamped to 16 bits — clamped rows land in edge cells, which
    * box residual filters handle; original keys survive as the suffix, so
    * prefix/point access still works through the existing pushdown.
    */
  def zorder(spark: SparkSession, dir: String, outDir: String,
      xExpr: String, yExpr: String,
      compression: String = ShardpackFormat.Codec.None,
      shardCap: Long = ShardpackFormat.DefaultShardCap): Unit = {
    // destination must be fresh: appending into a non-empty bucket would
    // silently mix clustered and unclustered generations, and re-running
    // zorder over its own output would compound a second morton prefix
    // onto already-prefixed keys
    val outFs = new Path(outDir).getFileSystem(HadoopConfs.session())
    require(ShardpackDataSource.listShards(outFs, new Path(outDir)).isEmpty,
      s"zorder output $outDir already contains shards — use a fresh directory")
    def dim(e: String) =
      least(greatest(expr(e).cast("long"), lit(0L)), lit((1L << 16) - 1))
    val src = spark.read.format("shardpack").load(dir)
    val total = src.inputFiles.length.toLong.max(1L)
    spark.read.format("shardpack").load(dir)
      .select(
        concat(ZOrder.hexKeyCol(ZOrder.mortonCol(dim(xExpr), dim(yExpr))),
          lit("_"), col("key")).as("key"),
        col("metadata"), col("entries"))
      .repartitionByRange(total.toInt, col("key"))
      .sortWithinPartitions("key")
      .write.format("shardpack")
      .option("compression", compression)
      .option("shardCapBytes", shardCap)
      .mode("append").save(outDir)
  }

  /** Delete every record with `lo <= key < hi` (half-open, the retention
    * idiom: expire one day/prefix of a sorted bucket). Shard selection is
    * envelope-vs-range intersection — on a sorted layout exactly the shards
    * covering the range are rewritten, each as one key-sorted shard of its
    * rows outside the range ([[rewrite]], one job); the rest is untouched.
    */
  def deleteRange(spark: SparkSession, dir: String, lo: String, hi: String): Unit = {
    require(ShardpackFormat.KeyOrd.lt(lo, hi), s"deleteRange: empty range [$lo, $hi)")
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    val before = ShardpackDataSource.listShards(fs, new Path(dir))
    val hit = affected(fs, dir, before, None,
      Some(KeyRange(Some(lo), loInc = true, Some(hi), hiInc = false, None)))
    if (hit.nonEmpty)
      rewrite(spark, fs, dir, before, hit, _ => col("key") < lo || col("key") >= hi)
  }

  /** MERGE (upsert): rows of `updates` replace same-key records in the
    * bucket at `dir`; new keys are appended. The copy-on-write counterpart
    * of [[overlay]] — overlay resolves updates at read time, merge folds
    * them into the storage once, completing the mutation surface the
    * reference sketches (`/root/reference/docs/draft.md:207-211` stops at
    * the read-time combine).
    *
    * `updates` must be key-unique: with no ordering column there is no
    * deterministic last-writer-wins, so duplicates are rejected loudly,
    * before anything is written. Two deciders check that and pick the
    * affected shards:
    *   - Updates already on the driver (the optimized plan is a
    *     `LocalRelation`: `Seq.toDF`, `createDataFrame` of a list) are
    *     decided there, with no Spark job: their keys are collected and
    *     hash-checked, and shards are picked by [[affected]], the envelope
    *     test then the candidate footer's Bloom — a new key inside an
    *     envelope that the Bloom rules out rewrites nothing. The rows are
    *     already materialized, so a self-referential update is safe. Each
    *     affected shard is rewritten as exactly one key-sorted shard
    *     ([[rewrite]]), so a single-key upsert on a sorted bucket is
    *     one job that replaces one shard by one, and the bucket stays
    *     sorted and disjoint.
    *   - Any other update (a streaming micro-batch, a derived frame) is
    *     persisted first — which makes a self-referential update (CDC
    *     derived from this same bucket) safe — and decided in ONE action:
    *     the per-key counts are tested against the broadcast envelopes and
    *     folded per partition into (keys seen, duplicate seen, hit shards),
    *     so what returns to the driver is bounded by shard count ×
    *     partitions, never by the number of updates, and a merge batch can
    *     be any size. The affected shards' survivors (an anti-join on the
    *     update keys) and the updates are then written with the updates'
    *     own partitioning ([[swap]]).
    *
    * Unhit shards are untouched; stats-less shards (foreign writers) are
    * always affected. The swap follows [[retire]]'s crash-safe order and
    * carries the sidecar, also after a pure insert. An empty update set
    * writes nothing and leaves the sidecar as it is.
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      compression: String = ShardpackFormat.Codec.None): Unit = {
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    val before = ShardpackDataSource.listShards(fs, new Path(dir))
    val unique = "merge: updates must be key-unique — dedupe upstream"
    val up = updates.select(col("key"), col("metadata"), col("entries"))
    up.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val keys = up.select("key").as[String].collect().toSeq
        require(keys.toSet.size == keys.length, unique)
        if (keys.isEmpty) return
        val hit = affected(fs, dir, before, Some(keys))
        // each update goes to the first hit shard whose envelope holds it,
        // so a rewritten shard's envelope never grows
        val routed = keys.groupBy(k => hit.indexWhere(h => holds(h.env, k)))
        def rows(ks: Seq[String]) = up.filter(col("key").isin(ks: _*))
        rewrite(spark, fs, dir, before, hit, h => !col("key").isin(h.keys: _*),
          i => Some(rows(routed.getOrElse(i, Nil))), routed.get(-1).map(rows), compression)
      case _ =>
        up.persist()
        try {
          val envs = ShardpackIndex.envelopes(fs, new Path(dir), before)
          val spans = spark.sparkContext.broadcast(envs.map(_._2).toArray)
          // per partition: (keys seen, duplicate seen, hit shards)
          val folds = try up.groupBy("key").count().as[(String, Long)].mapPartitions { it =>
            val sp = spans.value
            var seen = false
            var dup = false
            val hit = scala.collection.mutable.BitSet.empty
            it.foreach { case (k, n) =>
              seen = true
              dup ||= n > 1
              hit ++= sp.indices.filter(i => holds(sp(i), k))
            }
            Iterator((seen, dup, hit.toSeq))
          }.collect() finally spans.destroy()
          require(!folds.exists(_._2), unique)
          if (!folds.exists(_._1)) return
          val hitIdx = folds.flatMap(_._3).toSet
          val hit = envs.zipWithIndex.collect { case ((st, _), i) if hitIdx(i) => st }
          swap(fs, dir, before, hit, if (hit.isEmpty) up
            else hit.map(read(spark, _)).reduce(_ union _)
              .join(up.select("key"), Seq("key"), "left_anti").union(up),
            Map("compression" -> compression))
        } finally { up.unpersist(false); () }
    }
  }

  private def holds(env: Option[(String, String)], key: String): Boolean =
    ShardpackFormat.ShardStats.mayHold(env, Some(Set(key)), None)

  /** Each hit shard's rows that pass `keep`, plus the rows `routed` to its
    * index, as ONE key-sorted write partition, and the pure `inserts` as
    * one more, all written in one job, then [[swap]]: each hit shard is
    * replaced by one sorted shard (more only past the cap, none if empty),
    * so a sorted bucket stays sorted, disjoint and at its shard count. The
    * routed and inserted rows are driver-resident, so one task writes the
    * inserts. Parts are unioned as RDDs: Spark's `UnionExec` zips children
    * that are each one partition into a single partition.
    */
  private def rewrite(spark: SparkSession, fs: FileSystem, dir: String,
      before: Seq[FileStatus], hit: Seq[Hit], keep: Hit => Column,
      routed: Int => Option[DataFrame] = _ => None, inserts: Option[DataFrame] = None,
      compression: String = ShardpackFormat.Codec.None): Unit = {
    val parts = (hit.zipWithIndex.map { case (h, i) =>
      val survivors = read(spark, h.st).filter(keep(h))
      routed(i).fold(survivors)(survivors.union)
    } ++ inserts).map(_.coalesce(1).sortWithinPartitions("key"))
    swap(fs, dir, before, hit.map(_.st),
      Bridge.frame(spark, spark.sparkContext.union(parts.map(_.queryExecution.toRdd)),
        parts.reduce(_ union _).schema),
      Map("compression" -> compression))
  }

  /** The write-and-retire tail of every keyed verb: append `out` to `dir`,
    * then [[retire]] `old` against the pre-op listing `before`.
    */
  private def swap(fs: FileSystem, dir: String, before: Seq[FileStatus], old: Seq[FileStatus],
      out: DataFrame, options: Map[String, String], graceMs: Long = 0L): Unit = {
    out.write.format("shardpack").options(options).mode("append").save(dir)
    retire(fs, new Path(dir), before, old.map(_.getPath), graceMs)
  }

  /** Join per-column shardpack tables on key, concatenating their entry
    * lists — reading the spec's columnar layout back into one logical row.
    * Inner join: the spec requires consistent key sets across columns.
    */
  def alignedJoin(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty)
    parts.reduce { (a, b) =>
      a.join(b.select(col("key"), col("entries").as("_r_entries")), Seq("key"))
        .withColumn("entries", concat(col("entries"), col("_r_entries")))
        .drop("_r_entries")
    }
  }

  /** Read-time overlay: rows from `overlayDf` replace same-key rows of
    * `base`; base rows without an update pass through.
    */
  def overlay(base: DataFrame, overlayDf: DataFrame): DataFrame = {
    val o = overlayDf.select(col("key"),
      col("metadata").as("_o_metadata"), col("entries").as("_o_entries"))
    base.join(o, Seq("key"), "left")
      .select(col("key"),
        when(col("_o_entries").isNotNull, col("_o_metadata"))
          .otherwise(col("metadata")).as("metadata"),
        coalesce(col("_o_entries"), col("entries")).as("entries"))
  }
}
