package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Layer-1 throughput: shardpack vs parquet on the same payload
  * (`documents` packed as key/metadata/one-entry records). Measures write,
  * full scan (payload aggregation), metadata-only scan (column pruning) and
  * point lookup (key pushdown) per codec. The reference publishes no
  * numbers (BASELINE.md), so parquet — the format Spark ships — is the
  * yardstick.
  *
  * Usage: runMain graft.FormatBench [sfDir]
  */
object FormatBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    import spark.implicits._

    val recs = Tables.documents(spark, sfDir).select(
      concat(lit("doc_"), lpad($"doc_id".cast(StringType), 8, "0")).as("key"),
      to_json(struct($"lang", $"source")).cast(BinaryType).as("metadata"),
      array(struct(
        lit("text.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"), $"text".cast(BinaryType).as("data"))).as("entries"))
    recs.cache(); val n = recs.count()
    spark.range(100).count() // warm

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def bytesOf(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.getContentSummary(p).getLength
    }
    def measure(fmt: String, opts: Map[String, String], dir: String): Unit = {
      val (_, tw) = time {
        recs.write.format(fmt).options(opts).mode("overwrite").save(dir)
      }
      val read = () => spark.read.format(fmt).load(dir)
      val (_, tscan) = time {
        read().agg(sum(octet_length(element_at($"entries", 1).getField("data")))).collect()
      }
      val (_, tmeta) = time {
        read().agg(count($"key"), max(length($"metadata"))).collect()
      }
      val (_, tpoint) = time {
        read().filter($"key" === "doc_00000042").select($"key").collect()
      }
      val label = fmt + opts.get("compression").fold("")("/" + _) +
        (if (opts.get("sortedWrite").contains("true")) "/sorted" else "")
      println(f"[fmtbench] $label%-18s n=$n write=$tw%6.2fs scan=$tscan%6.2fs " +
        f"metaOnly=$tmeta%6.2fs pointLookup=$tpoint%6.2fs size=${bytesOf(dir) / 1e6}%8.1f MB")
    }

    val base = "/tmp/graft-fmtbench"
    for (codec <- Seq("none", "gzip", "lz4", "zstd", "snappy"))
      measure("shardpack", Map("compression" -> codec), s"$base/sp-$codec")
    // sorted layout: disjoint shard key ranges → the point lookup prunes
    // every shard but one from the footer stats alone
    measure("shardpack", Map("compression" -> "lz4", "sortedWrite" -> "true",
      "targetShards" -> "8"), s"$base/sp-sorted")
    // sidecar index on the sorted layout: the point lookup PLANS one task
    // (envelope pruning at planning time) instead of one task per shard
    locally {
      val dir = s"$base/sp-sorted"
      graft.sources.shardpack.ShardpackIndex.build(spark, dir)
      val (_, tpoint) = time {
        spark.read.format("shardpack").load(dir)
          .filter($"key" === "doc_00000042").select($"key").collect()
      }
      val parts = spark.read.format("shardpack").load(dir)
        .filter($"key" === "doc_00000042").select($"key").rdd.getNumPartitions
      println(f"[fmtbench] shardpack/lz4 indexed n=$n pointLookup=$tpoint%6.2fs " +
        f"plannedTasks=$parts")
    }
    // entry-level partial read: records carry a small JSON sidecar next to
    // a 16 KiB payload blob; reading only the sidecar via entryNames skips
    // the blob bytes (no decompress, no checksum)
    locally {
      val dir = s"$base/sp-multi"
      val multi = Tables.documents(spark, sfDir).select(
        concat(lit("doc_"), lpad($"doc_id".cast(StringType), 8, "0")).as("key"),
        lit(null).cast(BinaryType).as("metadata"),
        array(
          struct(lit("meta.json").as("file_name"), lit("application/json").as("content_type"),
            lit("").as("encoding"), to_json(struct($"lang", $"source")).cast(BinaryType).as("data")),
          struct(lit("blob.bin").as("file_name"), lit("application/octet-stream").as("content_type"),
            lit("").as("encoding"), expr("repeat(text, 1 + 16384 div greatest(1, length(text)))")
              .cast(BinaryType).as("data"))).as("entries"))
      multi.write.format("shardpack").mode("overwrite").save(dir)
      def scanLen(df: DataFrame) = df
        .agg(sum(octet_length(element_at($"entries", 1).getField("data")))).collect()
      val (_, tfull) = time(scanLen(spark.read.format("shardpack").load(dir)))
      val (_, tpart) = time(scanLen(
        spark.read.format("shardpack").option("entryNames", "meta.json").load(dir)))
      println(f"[fmtbench] shardpack partial-read n=$n fullEntries=$tfull%6.2fs " +
        f"sidecarOnly=$tpart%6.2fs size=${bytesOf(dir) / 1e6}%8.1f MB")
    }
    // SQL row-level UPDATE: group-based copy-on-write over the indexed
    // sorted layout — one key rewrites ONE shard (static envelope pruning
    // + runtime _shard group filtering), so the cost is a single-shard
    // read+write, not a table rewrite
    locally {
      val root = s"$base/cat"
      spark.conf.set("spark.sql.catalog.spkfb",
        classOf[graft.sources.shardpack.ShardpackCatalog].getName)
      spark.conf.set("spark.sql.catalog.spkfb.root", root)
      spark.sql("DROP TABLE IF EXISTS spkfb.upd")
      spark.sql(
        """CREATE TABLE spkfb.upd (
          |  key STRING NOT NULL, metadata BINARY,
          |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
          |                       encoding: STRING, data: BINARY>> NOT NULL)
          |USING shardpack""".stripMargin)
      recs.repartitionByRange(8, $"key").sortWithinPartitions("key")
        .writeTo("spkfb.upd").append()
      spark.sql("CALL spkfb.system.build_index('upd')")
      val (_, tupd) = time {
        spark.sql("UPDATE spkfb.upd SET metadata = CAST('x' AS BINARY) " +
          "WHERE key = 'doc_00000042'")
      }
      val shards = new java.io.File(s"$root/upd").listFiles
        .count(_.getName.endsWith(".shardpack"))
      println(f"[fmtbench] shardpack sql-update n=$n oneKeyUpdate=$tupd%6.2fs " +
        f"shards=$shards (rewrote 1)")
    }
    measure("parquet", Map.empty, s"$base/parquet")
    spark.stop()
  }
}
