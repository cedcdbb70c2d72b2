package graft.sources.shardpack

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.{FaultFileSystem, StreamFault}

/** Tests for the bucket-level operations: directory packing (spec CLI),
  * keyed delete, merge and compaction via rewrite, columnar aligned join,
  * and read-time overlay.
  */
class ShardpackOpsSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("spops").toString

  /** (key, body) records, on the driver (`Seq.toDF`: a `LocalRelation`) or
    * not (an RDD of two partitions, with no shuffle of its own).
    */
  private def docs(rows: Seq[(String, String)], local: Boolean = true): DataFrame = {
    import spark.implicits._
    (if (local) rows.toDF("key", "body")
     else spark.sparkContext.parallelize(rows, 2).toDF("key", "body"))
      .select($"key", lit(null).cast("binary").as("metadata"),
        array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), encode($"body", "UTF-8").as("data"))).as("entries"))
  }

  private def writeDocs(dir: String, rows: (String, String)*): Unit =
    docs(rows).write.format("shardpack").mode("append").save(dir)

  private def key(i: Int) = f"k$i%04d"

  private val pristine = (0 until 80).map(i => key(i) -> s"v0-$i")

  /** [[pristine]]: 80 records `k0000`… in 4 key-sorted shards with disjoint
    * envelopes, indexed, under `root` (a local path or a URI).
    */
  private def sortedBucket(root: String = tmp()): String = {
    val dir = root + "/sorted"
    docs(pristine).write.format("shardpack")
      .option("sortedWrite", true).option("targetShards", 4).mode("append").save(dir)
    ShardpackIndex.build(spark, dir)
    dir
  }

  /** A keyed verb on a fresh [[sortedBucket]]: the rows it leaves, how many
    * of the 4 shards it retires, and a key a later lookup still finds.
    */
  private case class Verb(name: String, run: String => Unit,
      rows: Seq[(String, String)], retired: Int, probe: String)

  private val hitIds = Seq(3, 25, 61) // in three different shards

  private def keyedVerbs: Seq[Verb] = Seq(
    Verb("merge", ShardpackOps.merge(spark, _, docs(hitIds.map(i => key(i) -> s"v1-$i"))),
      pristine.map { case (k, v) =>
        k -> (if (hitIds.map(key).contains(k)) v.replace("v0", "v1") else v) }, 3, key(25)),
    Verb("deleteKeys", ShardpackOps.deleteKeys(spark, _, hitIds.map(key)),
      pristine.filterNot(r => hitIds.map(key).contains(r._1)), 3, key(26)),
    Verb("deleteRange", ShardpackOps.deleteRange(spark, _, key(20), key(30)),
      pristine.filterNot(r => r._1 >= key(20) && r._1 < key(30)), 1, key(31)))

  private case class Shard(mtime: Long, keys: Seq[String],
      env: Option[(String, String)])

  /** Every listed shard by name: mtime, keys in file order, envelope. */
  private def shardsOf(dir: String): Map[String, Shard] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(HadoopConfs.session())
    ShardpackDataSource.listShards(fs, p).map { st =>
      val keys = spark.read.format("shardpack").load(st.getPath.toString)
        .select("key").collect().map(_.getString(0)).toSeq
      val env = ShardpackFormat.ShardStats.unwrap(
        ShardpackIndex.footer(fs, st.getPath, st.getLen).shardMetadata)._1
      st.getPath.getName -> Shard(st.getModificationTime, keys, env)
    }.toMap
  }

  private def sidecarBytes(dir: String): Seq[Byte] = Files.readAllBytes(Paths.get(
    new org.apache.hadoop.fs.Path(dir).toUri.getPath, ShardpackIndex.FileName)).toSeq

  private def bodies(dir: String): Seq[(String, String)] =
    spark.read.format("shardpack").load(dir)
      .select(col("key"), col("entries").getItem(0).getField("data").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("pack: directory of raw files becomes one record per file") {
    val in = tmp()
    Files.write(Paths.get(in, "a.txt"), "alpha".getBytes)
    Files.write(Paths.get(in, "b.json"), """{"x":1}""".getBytes)
    Files.write(Paths.get(in, "c.bin"), Array[Byte](1, 2, 3))
    val out = tmp() + "/packed"
    ShardpackOps.pack(spark, in, out, compression = "gzip")
    val back = spark.read.format("shardpack").load(out)
      .select(col("key"),
        col("entries").getItem(0).getField("content_type").as("ct"),
        col("entries").getItem(0).getField("data").as("data"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1)
    assert(back.map(_._1).toSeq == Seq("a.txt", "b.json", "c.bin"))
    assert(back.map(_._2).toSeq == Seq("text/plain", "application/json", "application/octet-stream"))
    assert(new String(back(0)._3) == "alpha")
    assert(back(2)._3.toSeq == Seq[Byte](1, 2, 3))
  }

  test("deleteKeys removes exactly the named keys, preserving co-located records") {
    val dir = tmp() + "/docs"
    // single shard file → all keys co-located (the reference's delete would
    // have destroyed every record in the shard; bucket.rs:174-179)
    docs(Seq(("k1", "one"), ("k2", "two"), ("k3", "three"), ("k4", "four")))
      .coalesce(1)
      .write.format("shardpack").mode("append").save(dir)
    ShardpackOps.deleteKeys(spark, dir, Seq("k2", "k4"))
    val left = spark.read.format("shardpack").load(dir)
      .select("key").collect().map(_.getString(0)).sorted
    assert(left.toSeq == Seq("k1", "k3"))
  }

  test("deleteKeys rewrites only shards whose key range intersects the delete set") {
    val dir = tmp() + "/pruned"
    // two shards with disjoint key ranges (separate writes → separate files)
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("z1", "three"), ("z2", "four"))
    val zShardsBefore = shardsOf(dir).filter(_._2.env.exists(_._1.startsWith("z")))
    ShardpackOps.deleteKeys(spark, dir, Seq("a2"))
    val after = shardsOf(dir)
    // the z-range shard file is untouched (same name, same mtime)
    zShardsBefore.foreach { case (name, z) =>
      assert(after.contains(name), s"unaffected shard $name was rewritten")
      assert(after(name).mtime == z.mtime, s"unaffected shard $name was modified")
    }
    val left = spark.read.format("shardpack").load(dir)
      .select("key").collect().map(_.getString(0)).sorted
    assert(left.toSeq == Seq("a1", "z1", "z2"))
  }

  test("compact merges small shards, preserves records, leaves full shards alone") {
    val dir = tmp() + "/docs"
    // 6 separate appends → ≥6 small shard files (streaming-epoch shape)
    (1 to 6).foreach(i => writeDocs(dir, (s"k$i", s"body-$i"), (s"k$i-b", s"extra-$i")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(HadoopConfs.session())
    val before = ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir))
    assert(before.length >= 6)
    val expect = spark.read.format("shardpack").load(dir)
      .select(col("key"), col("entries").getItem(0).getField("data").as("d"))
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)))).sorted
    val compacted = ShardpackOps.compact(spark, dir, minFill = 0.5)
    assert(compacted == before.length)
    val after = ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir))
    assert(after.length < before.length)
    val back = spark.read.format("shardpack").load(dir)
      .select(col("key"), col("entries").getItem(0).getField("data").as("d"))
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)))).sorted
    assert(back.toSeq == expect.toSeq)
    // an already-full shard (above minFill·cap) must not be touched: compact
    // again with a tiny cap so every existing shard counts as "full"
    val untouched = after.map(_.getPath.getName).toSet
    assert(ShardpackOps.compact(spark, dir, minFill = 0.5, shardCap = 16) == 0)
    val names2 = ShardpackDataSource
      .listShards(fs, new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName).toSet
    assert(names2 == untouched)
  }

  test("a scan planned against generation N completes on N while compact publishes N+1") {
    val dir = tmp() + "/docs"
    (1 to 5).foreach(i => writeDocs(dir, (f"k$i%02d", s"body-$i")))
    val expected = (1 to 5).map(i => f"k$i%02d")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    val genN = ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
    assert(genN.length >= 5)

    // capture the stale plan: force input-partition planning (the shard
    // listing is resolved HERE, against generation N)
    val staleRdd = spark.read.format("shardpack").load(dir)
      .select("key").queryExecution.toRdd
    assert(staleRdd.partitions.nonEmpty)

    // generation swap with a grace period: N is tombstoned, not deleted
    assert(ShardpackOps.compact(spark, dir, graceMs = 600000L) == genN.length)

    // a FRESH plan sees exactly generation N+1 — never a mix with the
    // tombstoned shards still physically present next to it
    val freshShards = ShardpackDataSource
      .listShards(fs, new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
    assert(freshShards.length < genN.length)
    assert(freshShards.toSet.intersect(genN.toSet).isEmpty)
    val freshKeys = spark.read.format("shardpack").load(dir)
      .select("key").collect().map(_.getString(0)).sorted.toSeq
    assert(freshKeys == expected, s"fresh read mixed generations: $freshKeys")

    // the STALE plan still completes and returns exactly generation N's
    // rows: its planned files are intact for the length of the grace
    val staleKeys = staleRdd.map(_.copy()).collect()
      .map(_.getUTF8String(0).toString).sorted.toSeq
    assert(staleKeys == expected, s"stale plan diverged: $staleKeys")

    // raw dir listing shows both generations coexisting under the manifest
    val physical = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.endsWith(ShardpackDataSource.FileSuffix))
    assert(physical.toSet == genN.toSet ++ freshShards.toSet)
  }

  test("vacuum reclaims tombstoned shards only after their grace deadline") {
    val dir = tmp() + "/docs"
    (1 to 4).foreach(i => writeDocs(dir, (s"k$i", s"body-$i")))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    val d = new org.apache.hadoop.fs.Path(dir)
    val genN = ShardpackDataSource.listShards(fs, d).map(_.getPath.getName).toSet
    assert(ShardpackOps.compact(spark, dir, graceMs = 600000L) == genN.size)

    // deadline far in the future: vacuum must not touch the retired bytes
    assert(ShardpackOps.vacuum(dir, olderThanMs = 0L) == 0)
    val phys1 = fs.listStatus(d).map(_.getPath.getName)
      .filter(_.endsWith(ShardpackDataSource.FileSuffix)).toSet
    assert(genN.subsetOf(phys1), "vacuum deleted shards inside their grace window")

    // force-expire the deadlines, then vacuum reclaims exactly those files
    // and drops the manifest
    val ts = ShardpackDataSource.readTombstones(fs, d)
    assert(ts.keySet == genN)
    ShardpackDataSource.writeTombstones(fs, d, ts.map { case (k, _) => k -> 0L })
    assert(ShardpackOps.vacuum(dir, olderThanMs = 0L) == genN.size)
    val phys2 = fs.listStatus(d).map(_.getPath.getName)
      .filter(_.endsWith(ShardpackDataSource.FileSuffix)).toSet
    assert(phys2.intersect(genN).isEmpty, "expired tombstoned shards survived vacuum")
    assert(ShardpackDataSource.readTombstones(fs, d).isEmpty)
    // rows unaffected throughout
    assert(spark.read.format("shardpack").load(dir).count() == 4)
  }

  test("alignedJoin merges per-column shardpacks into one entry list") {
    val leftDir = tmp() + "/left"
    val rightDir = tmp() + "/right"
    writeDocs(leftDir, ("k1", "left-1"), ("k2", "left-2"))
    writeDocs(rightDir, ("k1", "right-1"), ("k2", "right-2"))
    val joined = ShardpackOps.alignedJoin(Seq(
      spark.read.format("shardpack").load(leftDir),
      spark.read.format("shardpack").load(rightDir)))
    val rows = joined.select(col("key"), size(col("entries")).as("n"),
        col("entries").getItem(1).getField("data").cast("string").as("second"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq == Seq(("k1", 2, "right-1"), ("k2", 2, "right-2")))
  }

  test("merge upserts: updates replace matched keys, new keys append, unhit shards untouched") {
    val dir = tmp() + "/merged"
    // two shards with disjoint key ranges (separate writes → separate files)
    writeDocs(dir, ("a1", "one"), ("a2", "two"))
    writeDocs(dir, ("z1", "three"), ("z2", "four"))
    val zShardsBefore = shardsOf(dir).filter(_._2.env.exists(_._1.startsWith("z")))
    // a2 updated (hits the a-shard), m1 brand new (hits nothing)
    ShardpackOps.merge(spark, dir, docs(Seq(("a2", "two-v2"), ("m1", "new"))))
    val back = spark.read.format("shardpack").load(dir)
      .select(col("key"), col("entries").getItem(0).getField("data").cast("string").as("body"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(back.toSeq == Seq(("a1", "one"), ("a2", "two-v2"), ("m1", "new"),
      ("z1", "three"), ("z2", "four")))
    // the z-range shard was never rewritten (same name, same mtime)
    val after = shardsOf(dir)
    zShardsBefore.foreach { case (name, z) =>
      assert(after.contains(name), s"unhit shard $name was rewritten")
      assert(after(name).mtime == z.mtime, s"unhit shard $name was modified")
    }
    // insert-only merge (no envelope hit) appends without touching anything
    val namesBefore = after.keySet
    ShardpackOps.merge(spark, dir, docs(Seq(("m2", "new-2"))))
    assert(namesBefore.subsetOf(shardsOf(dir).keySet))
    assert(spark.read.format("shardpack").load(dir).count() == 6)
    // duplicate update keys are rejected loudly, bucket unchanged
    val ex = intercept[IllegalArgumentException] {
      ShardpackOps.merge(spark, dir, docs(Seq(("d1", "x"), ("d1", "y"))))
    }
    assert(ex.getMessage.contains("key-unique"))
    assert(spark.read.format("shardpack").load(dir).count() == 6)
  }

  test("merge of driver-resident updates rewrites each hit shard of a sorted, indexed bucket as one sorted shard") {
    // and so do deleteKeys and deleteRange, each on a fresh bucket
    keyedVerbs.foreach { v =>
      val dir = sortedBucket()
      val before = shardsOf(dir)
      assert(before.size == 4)
      val (_, jobs) = jobsDuring(v.run(dir))
      assert(jobs == 1, s"${v.name} ran $jobs jobs")
      val after = shardsOf(dir)
      assert(after.size == 4, v.name)
      assert((before.keySet -- after.keySet).size == v.retired, s"${v.name}: hit shards retired")
      after.values.foreach { s =>
        assert(s.keys.nonEmpty, s"${v.name}: zero-record shard")
        assert(s.keys == s.keys.sorted, s"${v.name}: unsorted shard")
      }
      val envs = after.values.flatMap(_.env).toSeq.sorted
      assert(envs.size == 4, v.name)
      envs.zip(envs.tail).foreach { case ((_, hi), (lo, _)) =>
        assert(hi < lo, s"${v.name}: overlapping envelopes $envs")
      }
      assert(bodies(dir) == v.rows, v.name)
      // the carried sidecar still answers a lookup on the driver from one shard
      val lookup = spark.read.format("shardpack").load(dir).filter(col("key") === v.probe)
      assert(lookup.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], v.name)
      val desc = lookup.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }
      assert(desc.exists(_.contains("scan=local (1 candidate shards")), s"${v.name}: $desc")
    }
  }

  test("a fault on the first promotion into the bucket leaves it as it was; a retry gives the model") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFileSystem].getName)
    val compact = Verb("compact", d => { ShardpackOps.compact(spark, d); () }, pristine, 4, key(0))
    (keyedVerbs :+ compact).foreach { v =>
      val dir = sortedBucket("faultfs://" + tmp())
      val before = shardsOf(dir)
      val index = sidecarBytes(dir)
      // the batch commit's first rename of a staged shard into the bucket
      StreamFault.renameFaultPrefix = new org.apache.hadoop.fs.Path(dir).toString + "/"
      try {
        intercept[Exception](v.run(dir))
        assert(StreamFault.renameFaultPrefix == null, s"${v.name}: fault never hit")
      } finally StreamFault.renameFaultPrefix = null
      assert(shardsOf(dir) == before, v.name)
      assert(sidecarBytes(dir) == index, v.name)
      assert(bodies(dir) == pristine, v.name)
      v.run(dir)
      assert(bodies(dir) == v.rows, s"${v.name} retried")
    }
  }

  test("merge of distributed updates: one deciding action, only hit shards retired, sidecar carried") {
    val dir = sortedBucket()
    val before = shardsOf(dir)
    val ids = Seq(3, 25, 61) // in three different shards
    val (_, jobs) = jobsDuring(
      ShardpackOps.merge(spark, dir, docs(ids.map(i => key(i) -> s"v1-$i"), local = false)))
    // 3 jobs decide (the cache fill, the count's shuffle, the fold); the
    // anti-join rewrite and its write take 4
    assert(jobs <= 7, s"merge ran $jobs jobs")
    val after = shardsOf(dir)
    assert((before.keySet -- after.keySet).size == 3, "three hit shards retired")
    assert(before.keySet.intersect(after.keySet).forall(n => after(n) == before(n)))
    assert(bodies(dir) == (0 until 80).map(i =>
      key(i) -> (if (ids.contains(i)) s"v1-$i" else s"v0-$i")))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(HadoopConfs.session())
    val idx = ShardpackIndex.load(fs, p).get
    assert(after.keySet.forall(idx.get(_).isDefined), "sidecar carried to the new shards")
  }

  test("merge of a multi-partition batch of new keys writes it with more than one task") {
    val dir = sortedBucket()
    val before = shardsOf(dir)
    // past every envelope: a pure insert, four partitions of ten keys
    val batch = docs((100 until 140).map(i => key(i) -> s"v1-$i"), local = false).repartition(4)
    ShardpackOps.merge(spark, dir, batch)
    val after = shardsOf(dir)
    assert(before.forall { case (n, s) => after.get(n).contains(s) }, "no shard rewritten")
    val added = after.keySet -- before.keySet
    assert(added.size > 1, s"one write task: $added")
    assert(bodies(dir) == (0 until 80).map(i => key(i) -> s"v0-$i") ++
      (100 until 140).map(i => key(i) -> s"v1-$i"))
  }

  test("duplicate or empty updates write nothing, on both paths") {
    Seq(true, false).foreach { local =>
      val dir = sortedBucket()
      val before = shardsOf(dir)
      val index = sidecarBytes(dir)
      val ex = intercept[IllegalArgumentException] {
        ShardpackOps.merge(spark, dir, docs(Seq(key(3) -> "x", key(50) -> "y", key(3) -> "z"), local))
      }
      assert(ex.getMessage.contains("key-unique"))
      ShardpackOps.merge(spark, dir, docs(Seq.empty, local))
      assert(shardsOf(dir) == before, s"local=$local")
      assert(sidecarBytes(dir) == index, s"local=$local")
    }
  }

  test("a key inside an envelope that the Bloom rules out rewrites nothing (merge, deleteKeys)") {
    val dir = sortedBucket()
    val before = shardsOf(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    val (name, first) = before.find(_._2.keys.contains(key(10))).get
    val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, name))
    val bloom = ShardpackFormat.ShardStats.unwrapBloom(
      ShardpackIndex.footer(fs, st.getPath, st.getLen).shardMetadata).get
    // sorts between k0010 and k0011, so the envelope holds it
    val absent = Iterator.from(0).map(j => s"${key(10)}-$j").find(!bloom.mightContain(_)).get
    assert(ShardpackFormat.ShardStats.mayHold(first.env, Some(Set(absent)), None))
    ShardpackOps.deleteKeys(spark, dir, Seq(absent))
    assert(shardsOf(dir) == before)
    ShardpackOps.merge(spark, dir, docs(Seq(absent -> "new")))
    val after = shardsOf(dir)
    before.foreach { case (n, s) => assert(after.get(n).map(_.mtime).contains(s.mtime), n) }
    assert((after.keySet -- before.keySet).map(after(_).keys) == Set(Seq(absent)))
    assert(bodies(dir).toMap.get(absent).contains("new"))
  }

  test("deleteRange expires exactly the half-open key range, pruning unhit shards") {
    val dir = tmp() + "/ranged"
    writeDocs(dir, ("a1", "one"), ("a2", "two"), ("a3", "three"))
    writeDocs(dir, ("z1", "four"), ("z2", "five"))
    val zShards = shardsOf(dir).filter(_._2.env.exists(_._1.startsWith("z")))
    ShardpackOps.deleteRange(spark, dir, "a2", "a4") // half-open: a2, a3 out; a1 stays
    val left = spark.read.format("shardpack").load(dir)
      .select("key").collect().map(_.getString(0)).sorted
    assert(left.toSeq == Seq("a1", "z1", "z2"))
    val after = shardsOf(dir)
    zShards.foreach { case (name, z) =>
      assert(after.contains(name) && after(name).mtime == z.mtime,
        s"out-of-range shard $name was rewritten")
    }
    // a no-hit range touches nothing
    val names = after.keySet
    ShardpackOps.deleteRange(spark, dir, "m0", "m9")
    assert(shardsOf(dir).keySet == names)
  }

  test("merge equals the keep∖updates ∪ updates model on random key sets (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val keyGen = Gen.chooseNum(0, 30).map(i => f"k$i%02d")
    val gen = for {
      baseKeys <- Gen.containerOf[Set, String](keyGen)
      updKeys <- Gen.containerOf[Set, String](keyGen)
    } yield (baseKeys, updKeys)
    // both deciders: updates on the driver, and the same rows made
    // non-local by a repartition
    val paths = Seq[(String, DataFrame => DataFrame)](
      "local" -> identity, "distributed" -> (_.repartition(2)))
    (0 until 8).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { case (bk, uk) =>
        paths.foreach { case (path, shape) =>
          val dir = tmp() + s"/m$i-$path"
          if (bk.nonEmpty)
            docs(bk.toSeq.sorted.map(k => k -> s"base-$k")).coalesce(2)
              .write.format("shardpack").mode("append").save(dir)
          ShardpackOps.merge(spark, dir, shape(docs(uk.toSeq.sorted.map(k => k -> s"upd-$k"))))
          val expect = ((bk -- uk).map(k => k -> s"base-$k") ++
            uk.map(k => k -> s"upd-$k")).toSeq.sorted
          val back = if (bk.isEmpty && uk.isEmpty) Seq.empty else bodies(dir)
          assert(back == expect, s"seed=$i path=$path base=$bk upd=$uk")
        }
      }
    }
  }

  test("key order: lookups, ranges, pushed aggregates and stats match a KeyOrd scan (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import ShardpackFormat.KeyOrd
    // ASCII, U+E000..U+FFFF and supplementary code points: UTF-16 order
    // sorts the third class below the second, code-point order above it
    val cp = Gen.oneOf(Gen.choose(0x61, 0x7a), Gen.choose(0xE000, 0xFFFF),
      Gen.choose(0x10000, 0x10FFFF))
    val keyGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, cp))
      .map(cps => new String(cps.toArray, 0, cps.length))
    val gen = for {
      keys <- Gen.containerOfN[Set, String](40, keyGen)
      absent <- Gen.listOfN(4, keyGen)
    } yield (keys ++ Set("\uE000", "\uF000", "\uD83D\uDE00"), absent)
    val catRoot = tmp()
    spark.conf.set("spark.sql.catalog.spkord", classOf[ShardpackCatalog].getName)
    spark.conf.set("spark.sql.catalog.spkord.root", catRoot)
    // one shard, and a few key-sorted shards with disjoint envelopes
    val layouts = Seq[(String, org.apache.spark.sql.DataFrame => DataFrameWriter[Row])](
      "one" -> (_.coalesce(1).write),
      "sorted" -> (_.write.option("sortedWrite", true).option("targetShards", 3)))
    (0 until 2).foreach { seed =>
      gen.apply(Gen.Parameters.default, Seed(seed.toLong)).foreach { case (keys, absent) =>
        val sorted = keys.toSeq.sorted(KeyOrd)
        layouts.foreach { case (layout, writer) =>
          val name = s"${layout}_$seed"
          val dir = s"$catRoot/$name"
          import spark.implicits._
          writer(sorted.toDF("key").select(col("key"),
            encode(col("key"), "UTF-8").as("metadata"),
            array(struct(lit("k.txt").as("file_name"), lit("text/plain").as("content_type"),
              lit("").as("encoding"), encode(col("key"), "UTF-8").as("data"))).as("entries")))
            .format("shardpack").mode("append").save(dir)
          Seq(false, true).foreach { indexed =>
            if (indexed) ShardpackIndex.build(spark, dir)
            val ctx = s"seed=$seed layout=$layout sidecar=$indexed"
            val df = spark.read.format("shardpack").load(dir)
            val all = df.select("key").collect().map(_.getString(0)).toSeq.sorted(KeyOrd)
            assert(all == sorted, ctx)
            // keyed reads run on both scan kinds: the batch scan without a
            // sidecar, the driver read (ShardpackLocalScan) with one
            def keysOf(q: org.apache.spark.sql.DataFrame, path: String, what: String,
                kind: String): Seq[String] = {
              val plan = q.queryExecution.executedPlan
              val planned = plan match {
                case _: LocalTableScanExec => "local"
                case p if p.collectFirst { case _: BatchScanExec => () }.isDefined => "batch"
                case p => p.toString
              }
              assert(planned == kind, s"$ctx $path path $what planned\n$plan")
              q.collect().map(_.getString(0)).toSeq.sorted(KeyOrd)
            }
            def check(c: org.apache.spark.sql.Column, want: Seq[String], what: String,
                kind: String): Unit = {
              assert(keysOf(df.filter(c).select("key", "entries"), "row", what, kind) == want,
                s"$ctx row path $what")
              assert(keysOf(df.filter(c).select("key"), "columnar", what, kind) == want,
                s"$ctx columnar path $what"); ()
            }
            val lookup = if (indexed) "local" else "batch"
            val probes = Seq("\uE000", "\uF000", "\uD83D\uDE00", sorted(sorted.size / 2)) ++ absent
            probes.foreach(k => check(col("key") === k, all.filter(_ == k), s"key = $k", lookup))
            check(col("key").isin(probes: _*), all.filter(probes.contains), "IN", lookup)
            val (lo, hi) = (sorted(sorted.size / 4), sorted(3 * sorted.size / 4))
            check(col("key") >= lo && col("key") < hi,
              all.filter(k => KeyOrd.gteq(k, lo) && KeyOrd.lt(k, hi)), s"[$lo, $hi)", "batch")
            val agg = df.agg(count(lit(1)), min(col("key")), max(col("key"))).collect()(0)
            assert((agg.getLong(0), agg.getString(1), agg.getString(2)) ==
              ((all.size.toLong, all.head, all.last)), s"$ctx pushed count/min/max")
            // CALL first: ShardpackOps.stats builds a missing sidecar
            val call = spark.sql(s"CALL spkord.system.stats('$name')").collect()(0)
            assert((call.getLong(1), call.getString(3), call.getString(4)) ==
              ((all.size.toLong, all.head, all.last)), s"$ctx CALL system.stats")
            val ops = ShardpackOps.stats(spark, dir).collect()(0)
            assert((ops.getLong(1), ops.getString(3), ops.getString(4)) ==
              ((all.size.toLong, all.head, all.last)), s"$ctx ShardpackOps.stats")
          }
        }
      }
    }
  }

  test("overlay: updated records win per key, others pass through") {
    val baseDir = tmp() + "/base"
    val overDir = tmp() + "/over"
    writeDocs(baseDir, ("k1", "v1"), ("k2", "v2"), ("k3", "v3"))
    writeDocs(overDir, ("k2", "v2-updated"))
    val merged = ShardpackOps.overlay(
      spark.read.format("shardpack").load(baseDir),
      spark.read.format("shardpack").load(overDir))
    val rows = merged
      .select(col("key"), col("entries").getItem(0).getField("data").cast("string").as("body"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(("k1", "v1"), ("k2", "v2-updated"), ("k3", "v3")))
  }
}
