package graft.sources.shardpack

import org.apache.spark.sql.SparkSession

/** The spec's standalone `shardpack` command-line tool, argv surface over
  * [[ShardpackOps]] (`/root/reference/docs/draft.md:136-148` sketches
  * `shardpack create`; the maintenance verbs expose the dataset ops the
  * same document describes at §5.2-5.3). Run via
  * `spark-submit --class graft.sources.shardpack.ShardpackCli <jar> <cmd> …`
  * on a cluster, or `sbt "runMain …"` locally.
  *
  * {{{
  * shardpack create  --input DIR --output DIR
  *                   [--record-size-limit N[B|KB|MB|GB]]   (default 1GB)
  *                   [--compression none|gzip|lz4|zstd|snappy]
  *                   [--metadata key=value]...              (repeatable)
  * shardpack compact --dir DIR [--min-fill 0.5]
  * shardpack vacuum  --dir DIR [--older-than-ms N]
  * shardpack delete  --dir DIR --keys k1,k2,...
  * shardpack zorder  --dir DIR --output DIR --x SQLEXPR --y SQLEXPR
  *                   [--compression none|gzip|lz4|zstd|snappy]
  * }}}
  *
  * Parsing is strict: an unknown flag, a missing required flag, or a
  * malformed size/metadata value aborts with a usage message rather than
  * silently ignoring input — a CLI that drops a mistyped
  * `--record-size-limt` would pack multi-GB records without complaint.
  */
object ShardpackCli {

  private val Usage =
    """usage:
      |  shardpack create  --input DIR --output DIR
      |                    [--record-size-limit N[B|KB|MB|GB]]
      |                    [--compression none|gzip|lz4|zstd|snappy]
      |                    [--metadata key=value]...
      |  shardpack compact --dir DIR [--min-fill F]
      |  shardpack vacuum  --dir DIR [--older-than-ms N]
      |  shardpack stats   --dir DIR
      |  shardpack delete  --dir DIR --keys k1,k2,...
      |  shardpack zorder  --dir DIR --output DIR --x SQLEXPR --y SQLEXPR
      |                    [--compression none|gzip|lz4|zstd|snappy]""".stripMargin

  /** `1GB` → bytes; bare numbers are bytes. Binary units (KB = 1024) —
    * matching the 256 MiB shard-roll convention of the writer.
    */
  private[shardpack] def parseSize(s: String): Long = {
    val m = "(?i)^([0-9]+)(B|KB|MB|GB)?$".r
    s.trim match {
      case m(n, unit) =>
        val shift = Option(unit).map(_.toUpperCase) match {
          case scala.None | Some("B") => 0
          case Some("KB") => 10
          case Some("MB") => 20
          case Some("GB") => 30
          case _ => throw new IllegalArgumentException(s"bad size unit in: $s")
        }
        n.toLong << shift
      case _ => throw new IllegalArgumentException(s"bad size: $s")
    }
  }

  /** Flags → map; `--metadata k=v` accumulates. Fails on unknown flags,
    * bare values, and duplicate non-repeatable flags.
    */
  private[shardpack] def parseFlags(args: List[String],
      known: Set[String]): (Map[String, String], Map[String, String]) = {
    @annotation.tailrec
    def loop(rest: List[String], flags: Map[String, String],
        meta: Map[String, String]): (Map[String, String], Map[String, String]) =
      rest match {
        case Nil => (flags, meta)
        case "--metadata" :: kv :: tail =>
          kv.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => loop(tail, flags, meta + (k -> v))
            case _ => throw new IllegalArgumentException(s"bad --metadata (want key=value): $kv")
          }
        // a following "--" token is the NEXT flag, not this flag's value —
        // without this guard `create --input --output y` would set
        // input="--output" and fail later with a misleading missing-flag error
        case flag :: value :: tail if known.contains(flag) && !value.startsWith("--") =>
          if (flags.contains(flag))
            throw new IllegalArgumentException(s"duplicate flag: $flag")
          loop(tail, flags + (flag -> value), meta)
        case flag :: _ if known.contains(flag) || flag == "--metadata" =>
          throw new IllegalArgumentException(s"missing value for $flag")
        case other :: _ =>
          throw new IllegalArgumentException(s"unknown flag: $other")
      }
    loop(args, Map.empty, Map.empty)
  }

  private def req(flags: Map[String, String], name: String): String =
    flags.getOrElse(name,
      throw new IllegalArgumentException(s"missing required flag: $name"))

  /** Dispatch with a caller-supplied session — the testable core; [[main]]
    * only adds session construction and exit-code mapping.
    */
  def run(spark: SparkSession, args: Seq[String]): Unit = args.toList match {
    case "create" :: rest =>
      val (f, meta) = parseFlags(rest,
        Set("--input", "--output", "--record-size-limit", "--compression"))
      val codec = f.getOrElse("--compression", ShardpackFormat.Codec.None)
      if (!ShardpackFormat.Codec.All.contains(codec))
        throw new IllegalArgumentException(s"unknown compression: $codec")
      ShardpackOps.pack(spark, req(f, "--input"), req(f, "--output"),
        compression = codec,
        recordSizeLimit = f.get("--record-size-limit").map(parseSize)
          .getOrElse(1L << 30),
        metadata = meta)
    case "compact" :: rest =>
      val (f, _) = parseFlags(rest, Set("--dir", "--min-fill"))
      ShardpackOps.compact(spark, req(f, "--dir"),
        minFill = f.get("--min-fill").map(_.toDouble).getOrElse(0.5))
      ()
    case "vacuum" :: rest =>
      val (f, _) = parseFlags(rest, Set("--dir", "--older-than-ms"))
      ShardpackOps.vacuum(req(f, "--dir"),
        olderThanMs = f.get("--older-than-ms").map(_.toLong)
          .getOrElse(24L * 3600 * 1000))
      ()
    case "stats" :: rest =>
      val (f, _) = parseFlags(rest, Set("--dir"))
      ShardpackOps.stats(spark, req(f, "--dir")).collect().foreach { r =>
        // scalastyle:off println
        println(s"shards=${r.getLong(0)} records=${r.getLong(1)} " +
          s"bytes=${r.getLong(2)} min_key=${r.getString(3)} max_key=${r.getString(4)}")
        // scalastyle:on println
      }
    case "delete" :: rest =>
      val (f, _) = parseFlags(rest, Set("--dir", "--keys"))
      ShardpackOps.deleteKeys(spark, req(f, "--dir"),
        req(f, "--keys").split(",").toSeq.filter(_.nonEmpty))
    case "zorder" :: rest =>
      val (f, _) = parseFlags(rest,
        Set("--dir", "--output", "--x", "--y", "--compression"))
      val codec = f.getOrElse("--compression", ShardpackFormat.Codec.None)
      if (!ShardpackFormat.Codec.All.contains(codec))
        throw new IllegalArgumentException(s"unknown compression: $codec")
      ShardpackOps.zorder(spark, req(f, "--dir"), req(f, "--output"),
        req(f, "--x"), req(f, "--y"), compression = codec)
    case cmd :: _ =>
      throw new IllegalArgumentException(s"unknown command: $cmd\n$Usage")
    case Nil =>
      throw new IllegalArgumentException(Usage)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(sys.env.get("SPARK_GRAFT_MASTER"))
    try run(spark, args.toSeq)
    catch {
      case e: IllegalArgumentException =>
        // stop BEFORE exiting: sys.exit unwinds past `finally`, which would
        // otherwise leave the stop to Spark's shutdown hook
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    } finally spark.stop()
  }
}
