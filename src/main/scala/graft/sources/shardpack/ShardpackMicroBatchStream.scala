package graft.sources.shardpack

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Structured Streaming source tailing a shardpack bucket:
  * `spark.readStream.format("shardpack").load(dir)` emits each NEW shard
  * file as it lands, one input partition per shard — the incremental-ingest
  * counterpart of the batch scan, completing the source/sink symmetry with
  * [[ShardpackWriteBuilder]]'s streaming sink.
  *
  * Offsets are the sorted set of processed shard file names. That is sound
  * because shards are immutable and appear atomically (writers stage
  * dot-prefixed temps and rename on commit — exactly the visibility contract
  * the spec's sequential-streaming mode assumes,
  * `/root/reference/docs/draft.md:213-218`); a name either is in the listing
  * or not, never half-written. Key pushdown and column pruning from the
  * enclosing [[ShardpackScanBuilder]] apply to every micro-batch.
  *
  * Backlog control: implements [[SupportsAdmissionControl]], so
  * `.option("maxFilesPerTrigger", k)` caps each micro-batch at k new shards
  * — a restart against a large backlog drains it in bounded batches instead
  * of one giant one. Planning lists the directory ONCE per batch (a single
  * RPC on object stores) and skips files that vanished between listing and
  * planning (e.g. a concurrent compaction) rather than failing the query.
  *
  * Scale note: like Spark's own FileStreamSource per-batch file-list log,
  * the offset carries the cumulative seen-file list; at ~400k shards the
  * production refinement is a compacting seen-file log in the checkpoint
  * with watermark-based retention — the offset format stays the same.
  */
final class ShardpackMicroBatchStream(path: String, required: StructType,
    keyFilter: Option[Set[String]], verify: Boolean,
    maxFilesPerTrigger: Option[Int],
    entryNames: Option[Set[String]] = None,
    keyRange: Option[KeyRange] = None,
    samplePct: Option[Int] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def currentFiles(): Seq[String] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(HadoopConfs.session())
    ShardpackDataSource.listShards(fs, dir).map(_.getPath.toString)
  }

  /** Trigger.AvailableNow: the backlog end is frozen at query start, so the
    * query drains exactly the shards visible NOW — still in
    * maxFilesPerTrigger-bounded batches — then terminates; files landing
    * mid-drain wait for the next run (exactly Spark's file-source contract).
    */
  private var availableNowCap: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentFiles().toSet)

  override def initialOffset(): Offset = ShardpackOffset(Seq.empty)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[ShardpackOffset].files
    val seenSet = seen.toSet
    val fresh = currentFiles()
      .filter(f => availableNowCap.forall(_.contains(f)))
      .filterNot(seenSet).sorted
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    ShardpackOffset(seen ++ admitted)
  }

  override def reportLatestOffset(): Offset = ShardpackOffset(currentFiles())

  override def deserializeOffset(json: String): Offset = ShardpackOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[ShardpackOffset].files.toSet
    val fresh = end.asInstanceOf[ShardpackOffset].files.filterNot(seen)
    // One listing for all lengths. A shard in the committed offset range but
    // absent from the listing is probed directly: on an eventually-consistent
    // store a listing can MISS a file that still exists — silently skipping
    // would permanently drop its records (the offset already marks it seen).
    // Only a confirmed FileNotFound (compaction removed it) is skippable.
    val dir = new Path(path)
    val fs = dir.getFileSystem(HadoopConfs.session())
    val byName = ShardpackDataSource.listShards(fs, dir)
      .map(st => st.getPath.toString -> st.getLen).toMap
    fresh.flatMap { f =>
      byName.get(f) match {
        case Some(len) => Some(ShardInputPartition(f, len): InputPartition)
        case None =>
          try {
            val st = fs.getFileStatus(new Path(f))
            Some(ShardInputPartition(f, st.getLen): InputPartition)
          } catch {
            case _: java.io.FileNotFoundException =>
              System.err.println(s"[shardpack] shard deleted before planning, skipping: $f")
              None
          }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ShardpackReaderFactory(required, keyFilter, verify,
      HadoopConfs.serializable(), entryNames, keyRange, samplePct)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = sorted list of shard files already emitted. */
final case class ShardpackOffset(files: Seq[String]) extends Offset {
  /** JSON string-array. Control characters (< 0x20) are escaped as `\\uXXXX`
    * — Spark's offset log is line-oriented, so a raw newline in a path would
    * corrupt the checkpoint; backslash and quote get the usual escapes.
    */
  override def json(): String =
    files.sorted.map { f =>
      val b = new StringBuilder("\"")
      f.foreach {
        case '\\' => b ++= "\\\\"
        case '"' => b ++= "\\\""
        case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
      b.result()
    }.mkString("[", ",", "]")
}

object ShardpackOffset {
  /** Parse the JSON string-array written by [[ShardpackOffset.json]]. */
  def fromJson(json: String): ShardpackOffset = {
    val s = json.trim
    require(s.startsWith("[") && s.endsWith("]"), s"bad shardpack offset: $s")
    val body = s.substring(1, s.length - 1)
    if (body.isEmpty) ShardpackOffset(Seq.empty)
    else {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var inStr = false
      var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        if (inStr && c == '\\') {
          require(i + 1 < body.length, s"bad shardpack offset escape: $s")
          body.charAt(i + 1) match {
            case 'u' =>
              require(i + 5 < body.length, s"bad shardpack offset escape: $s")
              cur += Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar
              i += 5
            case 'n' => cur += '\n'; i += 1
            case 'r' => cur += '\r'; i += 1
            case 't' => cur += '\t'; i += 1
            case e => cur += e; i += 1 // \\ and \" (and any future passthrough)
          }
        } else if (c == '"') {
          if (inStr) { out += cur.result(); cur.clear() }
          inStr = !inStr
        } else if (inStr) cur += c
        // commas/whitespace between strings are ignored
        i += 1
      }
      ShardpackOffset(out.result())
    }
  }
}
