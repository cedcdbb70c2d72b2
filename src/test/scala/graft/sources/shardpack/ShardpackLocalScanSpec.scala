package graft.sources.shardpack

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The two scan kinds of a keyed read: a sidecar-indexed lookup with few
  * small candidate shards is answered on the driver ([[ShardpackLocalScan]],
  * planned as a bare `LocalTableScanExec`, no Spark job); everything else
  * stays the distributed batch scan. Pins the rule, the statistics, the
  * checksum and the snapshot behaviour on both kinds.
  */
class ShardpackLocalScanSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("splocal").toString

  private val Records = 160
  private val Shards = 8
  private def key(i: Int) = f"k$i%04d"

  private def docs(ids: Seq[Int], version: Int = 0): DataFrame = {
    import spark.implicits._
    ids.toDF("i").select(format_string("k%04d", $"i").as("key"),
      lit(null).cast("binary").as("metadata"),
      array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"),
        encode(format_string(s"v$version-%04d", $"i"), "UTF-8").as("data"))).as("entries"))
  }

  /** A key-sorted bucket of [[Shards]] shards with disjoint envelopes. */
  private def sortedBucket(indexed: Boolean): String = {
    val dir = tmp() + "/sorted"
    docs(0 until Records).write.format("shardpack").option("sortedWrite", true)
      .option("targetShards", Shards).mode("append").save(dir)
    if (indexed) ShardpackIndex.build(spark, dir)
    dir
  }

  private def read(dir: String, c: Column): DataFrame =
    spark.read.format("shardpack").load(dir).filter(c)

  private def bodies(df: DataFrame): Seq[(String, String)] =
    df.select(col("key"), col("entries").getItem(0).getField("data").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)

  private def kind(df: DataFrame): String = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case other => if (other.children.isEmpty) Seq(other) else other.children.flatMap(leaves)
    }
    leaves(df.queryExecution.executedPlan) match {
      case Seq(_: LocalTableScanExec) => "local"
      case Seq(_: BatchScanExec) => "batch"
      case other => s"other: $other"
    }
  }

  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last

  test("key = k and key IN (…) plan a bare LocalTableScanExec and run no Spark job") {
    val dir = sortedBucket(indexed = true)
    val cases = Seq(
      "key = k" -> (col("key") === key(42), Seq(42)),
      "key = absent" -> (col("key") === "k0042x", Seq.empty[Int]),
      "key IN (…)" -> (col("key").isin(key(3), key(77), key(150), "nope"), Seq(3, 77, 150)))
    cases.foreach { case (what, (c, want)) =>
      Seq(read(dir, c), read(dir, c).select("key", "entries")).foreach { df =>
        val plan = df.queryExecution.executedPlan
        assert(plan.isInstanceOf[LocalTableScanExec], s"$what planned\n$plan")
        val desc = df.queryExecution.optimizedPlan.collectFirst {
          case r: DataSourceV2ScanRelation => r.scan.description()
        }
        assert(desc.exists(_.contains("scan=local (")), s"$what described as $desc")
        val (rows, jobs) = jobsDuring(df.collect())
        assert(jobs == 0, s"$what ran $jobs Spark job(s)")
        assert(rows.map(_.getString(0)).toSeq.sorted == want.map(key), what)
      }
      assert(bodies(read(dir, c)) == want.map(i => key(i) -> f"v0-$i%04d"), what)
    }
  }

  test("no sidecar, a post-build shard, a bucketed table, too many candidates and a range plan a batch scan") {
    val plain = sortedBucket(indexed = false)
    val lookup = col("key") === key(42)
    assert(kind(read(plain, lookup)) == "batch", "no sidecar")

    val appended = sortedBucket(indexed = true)
    assert(kind(read(appended, lookup)) == "local")
    docs(Seq(999)).write.format("shardpack").mode("append").save(appended)
    val late = read(appended, lookup)
    assert(kind(late) == "batch", "a shard appended after the build")
    // the batch scan's description, printed by explain(), says why
    assert(late.queryExecution.executedPlan.toString
      .contains("scan=batch (a listed shard is not in the sidecar)"))
    assert(bodies(read(appended, col("key") === key(999))) == Seq(key(999) -> "v0-0999"))

    // one key from each of the 8 shards: 8 candidates > MaxShards
    val spread = (0 until Shards).map(s => key(s * Records / Shards))
    assert(spread.size > ShardpackLocalScan.MaxShards)
    val wide = read(appended, col("key").isin(spread: _*))
    assert(kind(wide) == "batch", "candidates above the constant")
    assert(wide.count() == spread.size)
    val within = spread.take(ShardpackLocalScan.MaxShards)
    assert(kind(read(appended, col("key").isin(within: _*))) == "batch",
      "the unindexed late shard still blocks the driver read")
    val indexed = sortedBucket(indexed = true)
    assert(kind(read(indexed, col("key").isin(within: _*))) == "local")
    assert(kind(read(indexed, col("key").isin(spread: _*))) == "batch")

    val range = read(indexed, col("key") >= key(40) && col("key") < key(44))
    assert(kind(range) == "batch", "range-only filter")
    assert(range.count() == 4)

    val root = tmp()
    spark.conf.set("spark.sql.catalog.spkls", classOf[ShardpackCatalog].getName)
    spark.conf.set("spark.sql.catalog.spkls.root", root)
    spark.sql(
      """CREATE TABLE spkls.bkt (
        |  key STRING NOT NULL, metadata BINARY,
        |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
        |                       encoding: STRING, data: BINARY>> NOT NULL)
        |USING shardpack PARTITIONED BY (bucket(4, key))""".stripMargin)
    docs(0 until Records).writeTo("spkls.bkt").append()
    spark.sql("CALL spkls.system.build_index('bkt')").collect()
    val bucketed = spark.table("spkls.bkt").filter(lookup)
    assert(kind(bucketed) == "batch", "catalog bucketed table")
    assert(bucketed.count() == 1)
  }

  test("a lookup whose candidate shards exceed the driver-read byte budget plans a batch scan") {
    val dir = sortedBucket(indexed = true)
    def candidateBytes(c: Column): Long =
      read(dir, c).queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.collect { case l: ShardpackLocalScan => l.shards.map(_.getLen).sum }.get
    val (first, last) = (key(0), key(Records - 1))
    val (a, b) = (candidateBytes(col("key") === first), candidateBytes(col("key") === last))
    // each shard fits one batch partition, the two together do not
    val budget = math.max(a, b)
    def capped(c: Column) = spark.read.format("shardpack")
      .option("maxBytesPerPartition", budget).load(dir).filter(c)
    assert(kind(capped(col("key") === first)) == "local")
    assert(kind(capped(col("key") === last)) == "local")
    val both = capped(col("key").isin(first, last))
    assert(kind(both) == "batch")
    assert(both.queryExecution.executedPlan.toString
      .contains(s"scan=batch (${a + b} candidate bytes > $budget)"))
    assert(bodies(both) == Seq(first -> "v0-0000", last -> f"v0-${Records - 1}%04d"))
  }

  test("a readStream of an indexed bucket with a key filter still runs") {
    val dir = sortedBucket(indexed = true)
    val ckpt = tmp()
    val q = spark.readStream.format("shardpack").load(dir)
      .filter(col("key") === key(42) || col("key") === key(43))
      .select(col("key"))
      .writeStream.format("memory").queryName("splocal_tail")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("splocal_tail").collect().map(_.getString(0)).sorted.toSeq ==
        Seq(key(42), key(43)))
    } finally q.stop()
  }

  test("a keyed lookup joined to a large table broadcasts on both scan kinds") {
    val indexed = sortedBucket(indexed = true)
    val plain = sortedBucket(indexed = false)
    val big = spark.range(0L, 10000000L).select(format_string("k%04d", col("id")).as("key"))
    Seq("local" -> indexed, "batch" -> plain).foreach { case (want, dir) =>
      val lookup = read(dir, col("key").isin(key(1), key(2)))
      assert(kind(lookup) == want)
      val plan = big.join(lookup, "key").queryExecution.sparkPlan
      assert(plan.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined,
        s"$want lookup side not broadcast:\n$plan")
    }
  }

  test("a flipped payload byte fails both scan kinds with ChecksumMismatch") {
    val indexed = sortedBucket(indexed = true)
    val plain = sortedBucket(indexed = false)
    Seq("local" -> indexed, "batch" -> plain).foreach { case (want, dir) =>
      // flip one byte of record k0042's stored payload (same file length,
      // so the sidecar entry stays valid)
      val needle = "v0-0042".getBytes("UTF-8").toIndexedSeq
      val hit = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".shardpack"))
        .map(f => f -> Files.readAllBytes(f.toPath))
        .find { case (_, b) => b.toIndexedSeq.indexOfSlice(needle) >= 0 }
      assert(hit.isDefined, "payload must be stored uncompressed")
      val (f, bytes) = hit.get
      val at = bytes.toIndexedSeq.indexOfSlice(needle)
      bytes(at + 3) = (bytes(at + 3) ^ 0x1).toByte
      Files.write(f.toPath, bytes)
      // drop LocalFS's own .crc so only the record checksum is in play
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
      val lookup = read(dir, col("key") === key(42))
      val e = intercept[Exception](bodies(lookup))
      assert(rootCause(e).isInstanceOf[ShardpackFormat.ChecksumMismatch], s"$want: $e")
      // unverified, the same lookup returns the flipped byte: the check is real
      val raw = spark.read.format("shardpack").option("verifyChecksums", false).load(dir)
        .filter(col("key") === key(42))
      assert(kind(raw) == want)
      assert(bodies(raw) == Seq(key(42) -> "v0-1042"))
    }
  }

  test("re-collecting a Dataset after a merge: the driver read is a snapshot, a batch scan re-reads its files") {
    val update = docs(Seq(42), version = 1)
    // ONE Dataset per path, collected twice: a derived Dataset would plan anew
    def lookup(dir: String) = read(dir, col("key") === key(42))
      .select(col("key"), col("entries").getItem(0).getField("data").cast("string"))
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq

    val indexed = sortedBucket(indexed = true)
    val local = lookup(indexed)
    assert(kind(local) == "local")
    assert(rows(local) == Seq(key(42) -> "v0-0042"))
    ShardpackOps.merge(spark, indexed, update)
    assert(rows(local) == Seq(key(42) -> "v0-0042"), "rows read at planning")
    assert(rows(lookup(indexed)) == Seq(key(42) -> "v1-0042"), "a fresh Dataset")
    assert(kind(lookup(indexed)) == "local", "merge carries the sidecar")

    val plain = sortedBucket(indexed = false)
    val batch = lookup(plain)
    assert(kind(batch) == "batch")
    assert(rows(batch) == Seq(key(42) -> "v0-0042"))
    ShardpackOps.merge(spark, plain, update)
    // its planned shards include the one the merge retired
    val e = intercept[Exception](rows(batch))
    assert(rootCause(e).isInstanceOf[java.io.FileNotFoundException], s"$e")
    assert(rows(lookup(plain)) == Seq(key(42) -> "v1-0042"), "a fresh Dataset")
  }
}
