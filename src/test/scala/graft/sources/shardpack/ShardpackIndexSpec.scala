package graft.sources.shardpack

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Sidecar envelope index: distributed build, planning-time shard pruning,
  * stale-safety against post-build appends, and how generation swaps carry
  * (inline) or drop (partitioned) the sidecar.
  */
class ShardpackIndexSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("spidx").toString

  private def docsDf(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("key", "body")
      .coalesce(1)
      .select($"key", lit(null).cast("binary").as("metadata"),
        array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), encode($"body", "UTF-8").as("data"))).as("entries"))
  }

  private def writeDocs(dir: String, rows: (String, String)*): Unit =
    docsDf(rows: _*).write.format("shardpack").mode("append").save(dir)

  /** key -> (body, metadata as a string or null) of every record. */
  private def readBack(dir: String): Map[String, (String, String)] =
    spark.read.format("shardpack").load(dir)
      .select(col("key"), col("entries").getItem(0).getField("data").cast("string"),
        col("metadata").cast("string"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

  private def shardNames(dir: String): Set[String] = {
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    ShardpackDataSource.listShards(fs, new Path(dir)).map(_.getPath.getName).toSet
  }

  /** Shards a point lookup reads: the driver read's candidates, or the
    * batch scan's planned partitions.
    */
  private def lookupParts(dir: String, key: String): Int = {
    import spark.implicits._
    val df = spark.read.format("shardpack").load(dir).filter($"key" === key).select("key")
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    } match {
      case Some(local: ShardpackLocalScan) => local.shards.size
      case _ => df.rdd.getNumPartitions
    }
  }

  test("build indexes every shard and load round-trips the envelopes") {
    val dir = tmp() + "/docs"
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("z1", "three"))
    assert(ShardpackIndex.build(spark, dir) == 2)
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    val idx = ShardpackIndex.load(fs, new Path(dir)).get
    assert(idx.size == 2)
    val ranges = idx.values.flatMap(_.range).toSeq.sortBy(_._1)
    assert(ranges == Seq(("a1", "a2"), ("z1", "z1")))
  }

  test("keyed scan plans only the shards whose envelope may match") {
    val dir = tmp() + "/pruned"
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("m1", "three"))
    writeDocs(dir, ("z1", "four"))
    // without the sidecar every shard self-prunes in its own task
    assert(lookupParts(dir, "z1") == 3)
    ShardpackIndex.build(spark, dir)
    // with it, planning emits exactly the one possibly-matching shard
    assert(lookupParts(dir, "z1") == 1)
    assert(spark.read.format("shardpack").load(dir)
      .filter(col("key") === "z1").count() == 1)
    // unkeyed scans are unaffected
    assert(spark.read.format("shardpack").load(dir).count() == 4)
  }

  test("a stale sidecar never hides shards written after the build") {
    val dir = tmp() + "/stale"
    writeDocs(dir, ("a1", "one"))
    ShardpackIndex.build(spark, dir)
    writeDocs(dir, ("q1", "late")) // not in the index
    // the unindexed shard is conservatively planned and found
    val hit = spark.read.format("shardpack").load(dir)
      .filter(col("key") === "q1")
      .select(col("entries").getItem(0).getField("data").cast("string"))
      .collect()
    assert(hit.map(_.getString(0)).toSeq == Seq("late"))
  }

  test("oversized shards split into record-range partitions via the indexed count") {
    import spark.implicits._
    val dir = tmp() + "/split"
    // ONE shard of 500 records (coalesce(1)) — without splitting this is a
    // single task no matter its size
    (0 until 500).map(i => (f"k$i%05d", s"body-$i")).toDF("key", "body")
      .coalesce(1)
      .select($"key", lit(null).cast("binary").as("metadata"),
        array(struct(lit("b.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), encode($"body", "UTF-8").as("data"))).as("entries"))
      .write.format("shardpack").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    assert(ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir)).size == 1)
    assert(spark.read.format("shardpack").load(dir)
      .select("key").rdd.getNumPartitions == 1)
    ShardpackIndex.build(spark, dir)
    // force a tiny per-partition byte budget so the one shard fans out
    val split = spark.read.format("shardpack")
      .option("maxBytesPerPartition", 4096).load(dir)
    assert(split.select("key").rdd.getNumPartitions > 1)
    // complete and exact under splitting
    assert(split.count() == 500)
    val keys = split.select("key").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == (0 until 500).map(i => f"k$i%05d"))
    val payload = split.filter(col("key") === "k00123")
      .select(col("entries").getItem(0).getField("data").cast("string"))
      .collect().map(_.getString(0))
    assert(payload.toSeq == Seq("body-123"))
    // range pushdown composes with splitting
    assert(split.filter(col("key") >= "k00490").count() == 10)
  }

  test("pushed LIMIT plans only the shard prefix covering the limit") {
    val dir = tmp() + "/limit"
    // three shards of 2 records each, written in three separate appends
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("m1", "three"), ("m2", "four"))
    writeDocs(dir, ("z1", "five"), ("z2", "six"))
    ShardpackIndex.build(spark, dir)
    // direct planning contract: limit 2 is covered by the first shard alone
    def scanWithLimit(l: Int) = new ShardpackScan(Seq(dir),
      ShardpackDataSource.Schema, None, true, limit = Some(l))
    assert(scanWithLimit(2).planInputPartitions().length == 1)
    assert(scanWithLimit(3).planInputPartitions().length == 2)
    assert(scanWithLimit(100).planInputPartitions().length == 3)
    // no limit → all shards
    assert(new ShardpackScan(Seq(dir), ShardpackDataSource.Schema, None, true)
      .planInputPartitions().length == 3)
    // end-to-end: Spark's retained global limit trims exactly, and the
    // pushdown reaches the scan (visible in the scan description)
    val df = spark.read.format("shardpack").load(dir).limit(2)
    assert(df.count() == 2)
    assert(spark.read.format("shardpack").load(dir).limit(5)
      .select("key").collect().length == 5)
    // without a sidecar the cap is a no-op (unknown counts never stop early)
    val dir2 = tmp() + "/limitnoidx"
    writeDocs(dir2, ("a1", "one"))
    writeDocs(dir2, ("b1", "two"))
    assert(new ShardpackScan(Seq(dir2), ShardpackDataSource.Schema, None, true,
      limit = Some(1)).planInputPartitions().length == 2)
  }

  /** The partitioned sidecar (past ShardpackIndex.PartTarget entries): the
    * build writes key-sorted part files from the EXECUTORS (driver holds
    * only part summaries), and a keyed plan reads the root manifest plus
    * ONLY the parts its predicate's key span touches — with the untouched
    * parts' shards excluded under the root's listing-signature proof.
    */
  test("10k-shard bucket: multi-part sidecar, keyed planning reads one part") {
    val dir = tmp() + "/parted"
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(HadoopConfs.session())
    fs.mkdirs(dirPath)
    val n = 10000
    // write n one-record shards DIRECTLY via the format layer (the
    // DataFrame writer would schedule n tasks); each shard's envelope is
    // its single key, so key-sorted parts get tight disjoint spans
    val hconf = HadoopConfs.serializable()
    spark.sparkContext.parallelize(0 until n, 32).foreachPartition { it =>
      it.foreach { i =>
        val key = f"k$i%08d"
        val p = new Path(new Path(dir), f"part-$i%08d-t-j-u-0000.shardpack")
        val f2 = p.getFileSystem(hconf.value)
        val os = f2.create(p, true)
        val w = new ShardpackFormat.ShardFileWriter(os, Array.empty)
        w.append(ShardpackFormat.encodeRecord(
          ShardpackFormat.Record(key, null,
            Seq(ShardpackFormat.Entry("b.txt", "text/plain", "",
              s"body-$i".getBytes("UTF-8")))), "none"))
        w.finish(ShardpackFormat.ShardStats.wrap(key, key, Array.empty))
      }
    }
    assert(ShardpackIndex.build(spark, dir) == n)
    // root manifest is partitioned: n/PartTarget part files exist
    val partsDirs = fs.listStatus(dirPath)
      .filter(_.getPath.getName.startsWith(ShardpackIndex.FileName + ".d-"))
    assert(partsDirs.length == 1, "exactly one parts generation after build")
    val partFiles = fs.listStatus(partsDirs.head.getPath)
    val expectedParts = (n + ShardpackIndex.PartTarget - 1) / ShardpackIndex.PartTarget
    assert(partFiles.length == expectedParts,
      s"expected $expectedParts parts, found ${partFiles.length}")
    // full load still round-trips every entry (ops/envelopes contract)
    assert(ShardpackIndex.load(fs, dirPath).get.size == n)

    // pruned view: a point-lookup predicate touches exactly one part
    val listed = ShardpackDataSource.listShards(fs, dirPath)
      .map(st => (st.getPath.getName, st.getLen))
    val probe = f"k${7}%08d" // lands in the first key-sorted part
    val pruned = ShardpackIndex.pruned(fs, dirPath, listed, {
      case scala.None => true
      case Some((lo, hi)) =>
        ShardpackFormat.KeyOrd.gteq(probe, lo) && ShardpackFormat.KeyOrd.lteq(probe, hi)
    })
    assert(pruned.partsRead == 1,
      s"point lookup must read 1 of $expectedParts parts, read ${pruned.partsRead}")
    assert(pruned.entryOf(f"part-${7}%08d-t-j-u-0000.shardpack", listed.toMap.apply(
      f"part-${7}%08d-t-j-u-0000.shardpack")).isDefined)
    // a shard from an untouched part is provably excluded…
    val farName = f"part-${n - 1}%08d-t-j-u-0000.shardpack"
    assert(pruned.excluded(farName, listed.toMap.apply(farName)))
    // …but a shard appended AFTER the build never is (signature mismatch)
    val lateName = "part-99999999-late-x-y-0000.shardpack"
    val lp = new Path(dirPath, lateName)
    val os2 = fs.create(lp, true)
    val w2 = new ShardpackFormat.ShardFileWriter(os2, Array.empty)
    w2.append(ShardpackFormat.encodeRecord(
      ShardpackFormat.Record(probe, null,
        Seq(ShardpackFormat.Entry("b.txt", "text/plain", "", "late".getBytes))), "none"))
    w2.finish(ShardpackFormat.ShardStats.wrap(probe, probe, Array.empty))
    val listed2 = ShardpackDataSource.listShards(fs, dirPath)
      .map(st => (st.getPath.getName, st.getLen))
    val pruned2 = ShardpackIndex.pruned(fs, dirPath, listed2, _ => false)
    assert(!pruned2.excluded(lateName, listed2.toMap.apply(lateName)),
      "post-build appends must never be excluded")
    fs.delete(lp, false)

    // end-to-end: the keyed scan PLANS exactly one task against 10k shards
    assert(lookupParts(dir, probe) == 1)
    val hit = spark.read.format("shardpack").load(dir)
      .filter(col("key") === probe)
      .select(col("entries").getItem(0).getField("data").cast("string"))
      .collect().map(_.getString(0))
    assert(hit.toSeq == Seq("body-7"))

    // a generation swap does not carry a partitioned root: it is dropped
    ShardpackOps.deleteKeys(spark, dir, Seq(probe))
    assert(!fs.exists(new Path(dirPath, ShardpackIndex.FileName)),
      "a swap must drop a partitioned root")
    assert(ShardpackIndex.load(fs, dirPath).isEmpty)
    assert(spark.read.format("shardpack").load(dir).filter(col("key") === probe).isEmpty)
  }

  test("generation swaps carry the sidecar: every op keeps keyed lookups on one shard") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.spkidx", classOf[ShardpackCatalog].getName)
    spark.conf.set("spark.sql.catalog.spkidx.root", root)
    spark.sql(
      """CREATE TABLE spkidx.carried (
        |  key STRING NOT NULL, metadata BINARY,
        |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
        |                       encoding: STRING, data: BINARY>> NOT NULL)
        |USING shardpack""".stripMargin)
    val dir = s"$root/carried"
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    // four shards with disjoint envelopes
    Seq(Seq("a1", "a2"), Seq("g1", "g2"), Seq("m1", "m2"), Seq("z1", "z2")).foreach { ks =>
      writeDocs(dir, ks.map(k => k -> s"body-$k"): _*)
    }
    ShardpackIndex.build(spark, dir)
    var expected = readBack(dir)
    assert(expected.size == 8 && lookupParts(dir, "m1") == 1)

    def swap(op: String, survivor: String)(run: => Any)(
        edit: Map[String, (String, String)] => Map[String, (String, String)]): Unit = {
      val before = shardNames(dir)
      run
      val listed = ShardpackDataSource.listShards(fs, new Path(dir))
      val retired = before -- listed.map(_.getPath.getName)
      assert(retired.nonEmpty, s"$op retired no shard")
      val idx = ShardpackIndex.load(fs, new Path(dir))
        .getOrElse(fail(s"$op dropped the sidecar"))
      listed.foreach { st =>
        assert(idx.get(st.getPath.getName).exists(_.len == st.getLen),
          s"$op left ${st.getPath.getName} without a valid entry")
      }
      assert(retired.forall(n => !idx.contains(n)), s"$op kept entries for $retired")
      assert(lookupParts(dir, survivor) == 1, s"after $op, lookup of $survivor")
      expected = edit(expected)
      assert(readBack(dir) == expected, s"rows after $op"); ()
    }

    swap("deleteKeys", "a2")(ShardpackOps.deleteKeys(spark, dir, Seq("a1")))(_ - "a1")
    swap("deleteRange", "g2")(ShardpackOps.deleteRange(spark, dir, "g0", "g2"))(_ - "g1")
    swap("merge", "m1")(ShardpackOps.merge(spark, dir, docsDf("m1" -> "new-m1")))(
      _ + ("m1" -> (("new-m1", null))))
    swap("UPDATE", "z1")(spark.sql(
      "UPDATE spkidx.carried SET metadata = CAST('u' AS BINARY) WHERE key = 'z1'"))(
      _ + ("z1" -> (("body-z1", "u"))))
    swap("compact", "z2")(assert(ShardpackOps.compact(spark, dir) > 1))(identity)
    spark.sql("DROP TABLE spkidx.carried")
  }

  test("a swap on a bucket without a sidecar leaves none; envelopes() probes footers") {
    val dir = tmp() + "/noidx"
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("z1", "three"))
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    ShardpackOps.deleteKeys(spark, dir, Seq("a1"))
    assert(ShardpackIndex.load(fs, new Path(dir)).isEmpty,
      "a swap must carry a sidecar, never create one")
    ShardpackOps.merge(spark, dir, docsDf("z1" -> "new"))
    assert(ShardpackIndex.load(fs, new Path(dir)).isEmpty)
    // with no sidecar, envelopes() probes footers and still sees every shard
    val shards = ShardpackDataSource.listShards(fs, new Path(dir))
    val envs = ShardpackIndex.envelopes(fs, new Path(dir), shards)
    assert(envs.size == shards.size)
    assert(envs.forall(_._2.isDefined))
    assert(readBack(dir).map { case (k, (b, _)) => k -> b } == Map("a2" -> "two", "z1" -> "new"))
  }

  test("a shard appended after the sidecar was carried is still scanned and found") {
    val dir = tmp() + "/lateappend"
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("m1", "three"))
    ShardpackIndex.build(spark, dir)
    ShardpackOps.deleteKeys(spark, dir, Seq("a1"))
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    assert(ShardpackIndex.load(fs, new Path(dir)).isDefined)
    val carried = shardNames(dir)
    writeDocs(dir, ("q1", "late")) // not in the carried sidecar
    val late = shardNames(dir) -- carried
    def found(): Seq[String] = spark.read.format("shardpack").load(dir)
      .filter(col("key") === "q1")
      .select(col("entries").getItem(0).getField("data").cast("string"))
      .collect().map(_.getString(0)).toSeq
    assert(found() == Seq("late"))
    // a later swap carries the sidecar but never indexes another writer's
    // shard: the late shard stays unindexed and is still found
    ShardpackOps.deleteKeys(spark, dir, Seq("m1"))
    val idx = ShardpackIndex.load(fs, new Path(dir)).get
    assert(late.nonEmpty && late.forall(n => !idx.contains(n)))
    assert(found() == Seq("late"))
    // the indexed a-shard is pruned, the unindexed late shard is planned
    assert(lookupParts(dir, "q1") == 1)
  }
}
