package graft.sources.shardpack

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** SQL row-level DML on shardpack tables (group-based copy-on-write):
  * UPDATE, MERGE INTO, and rewrite-path DELETE. The group contract under
  * test: every row of an affected shard survives the rewrite (unmatched
  * rows pass through unchanged), untouched shards are not rewritten when
  * the sidecar index can prune them, and the replaced generation swaps
  * atomically per file.
  */
class RowLevelOpsSpec extends AnyFunSuite with SparkTestBase {

  private lazy val root = {
    val r = Files.createTempDirectory("spk-rowlevel").toString
    spark.conf.set("spark.sql.catalog.spkrl", classOf[ShardpackCatalog].getName)
    spark.conf.set("spark.sql.catalog.spkrl.root", r)
    r
  }

  private def createTable(name: String): Unit = {
    spark.sql(
      s"""CREATE TABLE spkrl.$name (
         |  key STRING NOT NULL, metadata BINARY,
         |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
         |                       encoding: STRING, data: BINARY>> NOT NULL)
         |USING shardpack""".stripMargin)
    ()
  }

  private def sampleDf(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).select(
      format_string("key%05d", $"id").as("key"),
      encode(format_string("meta-%05d", $"id"), "UTF-8").as("metadata"),
      array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"),
        encode(format_string("payload-%05d", $"id"), "UTF-8").as("data"))).as("entries"))
  }

  private def shardNames(name: String): Set[String] = {
    val dir = new Path(s"$root/$name")
    val fs = dir.getFileSystem(HadoopConfs.session())
    ShardpackDataSource.listShards(fs, dir).map(_.getPath.getName).toSet
  }

  test("UPDATE by key rewrites only the shard covering the key (sidecar-pruned)") {
    root
    createTable("upd1")
    sampleDf(100).repartitionByRange(4, col("key")).sortWithinPartitions("key")
      .writeTo("spkrl.upd1").append()
    spark.sql("CALL spkrl.system.build_index('upd1')")
    val before = shardNames("upd1")
    assert(before.size >= 4, s"want >=4 shards, got $before")

    spark.sql("UPDATE spkrl.upd1 SET metadata = CAST('updated' AS BINARY) " +
      "WHERE key = 'key00042'")

    val rows = spark.table("spkrl.upd1").select("key", "metadata").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(rows.size == 100)
    assert(rows("key00042") == "updated")
    assert(rows("key00041") == "meta-00041")
    assert(rows("key00099") == "meta-00099")

    // group granularity: exactly one shard replaced, the rest untouched
    val after = shardNames("upd1")
    val kept = before intersect after
    assert((before -- after).size == 1,
      s"expected exactly one replaced shard, before=$before after=$after")
    assert(kept.size == before.size - 1)
    spark.sql("DROP TABLE spkrl.upd1")
  }

  test("UPDATE on a payload predicate rewrites and preserves unmatched rows") {
    root
    createTable("upd2")
    sampleDf(60).writeTo("spkrl.upd2").append()
    // predicate on the entry payload — not expressible as a key filter
    spark.sql("UPDATE spkrl.upd2 SET metadata = CAST('big' AS BINARY) " +
      "WHERE decode(element_at(entries, 1).data, 'UTF-8') > 'payload-00049'")
    val rows = spark.table("spkrl.upd2").select("key", "metadata").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(rows.size == 60)
    (0 until 60).foreach { i =>
      val k = f"key$i%05d"
      if (i > 49) assert(rows(k) == "big", k)
      else assert(rows(k) == f"meta-$i%05d", k)
    }
    spark.sql("DROP TABLE spkrl.upd2")
  }

  test("MERGE INTO: matched update + not-matched insert") {
    root
    createTable("mrg")
    sampleDf(10).writeTo("spkrl.mrg").append()
    sampleDf(14).filter(col("key") >= "key00008")
      .withColumn("metadata", lit("merged").cast("binary"))
      .createOrReplaceTempView("mrg_src")

    spark.sql(
      """MERGE INTO spkrl.mrg t USING mrg_src s ON t.key = s.key
        |WHEN MATCHED THEN UPDATE SET t.metadata = s.metadata
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val rows = spark.table("spkrl.mrg").select("key", "metadata").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(rows.size == 14)
    assert(rows("key00007") == "meta-00007") // untouched
    assert(rows("key00008") == "merged")     // matched update
    assert(rows("key00009") == "merged")
    assert(rows("key00013") == "merged")     // not-matched insert
    // payload of pre-existing unmatched rows survived the group rewrite
    val payload = spark.table("spkrl.mrg").filter(col("key") === "key00003")
      .select(decode(element_at(col("entries"), 1).getField("data"), "UTF-8"))
      .collect()(0).getString(0)
    assert(payload == "payload-00003")
    spark.sql("DROP TABLE spkrl.mrg")
  }

  test("MERGE with DELETE and NOT MATCHED BY SOURCE clauses (full CDC shape)") {
    root
    createTable("mrg2")
    sampleDf(10).writeTo("spkrl.mrg2").append()
    // source: keys 3..11, key 5 flagged for delete
    sampleDf(12).filter(col("key") >= "key00003")
      .withColumn("metadata",
        when(col("key") === "key00005", lit("drop").cast("binary"))
          .otherwise(lit("upd").cast("binary")))
      .createOrReplaceTempView("mrg2_src")
    spark.sql(
      """MERGE INTO spkrl.mrg2 t USING mrg2_src s ON t.key = s.key
        |WHEN MATCHED AND decode(s.metadata, 'UTF-8') = 'drop' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.metadata = s.metadata
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.key = 'key00000' THEN DELETE""".stripMargin)
    val rows = spark.table("spkrl.mrg2").select("key", "metadata").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    // 0 deleted (not-matched-by-source), 5 deleted (matched delete),
    // 1..2 untouched, 3..4 + 6..9 updated, 10..11 inserted
    assert(!rows.contains("key00000") && !rows.contains("key00005"))
    assert(rows("key00001") == "meta-00001" && rows("key00002") == "meta-00002")
    Seq(3, 4, 6, 7, 8, 9).foreach(i => assert(rows(f"key$i%05d") == "upd"))
    Seq(10, 11).foreach(i => assert(rows(f"key$i%05d") == "upd"))
    assert(rows.size == 10)
    spark.sql("DROP TABLE spkrl.mrg2")
  }

  test("DELETE with a non-key predicate takes the rewrite path") {
    root
    createTable("del1")
    sampleDf(40).writeTo("spkrl.del1").append()
    // metadata delete declines this (payload predicate) — rewrite handles it
    spark.sql("DELETE FROM spkrl.del1 " +
      "WHERE decode(element_at(entries, 1).data, 'UTF-8') LIKE '%0003_'")
    val keys = spark.table("spkrl.del1").select("key").collect().map(_.getString(0)).toSet
    assert(keys.size == 30)
    (30 until 40).foreach(i => assert(!keys.contains(f"key$i%05d")))
    assert(keys.contains("key00029"))
    spark.sql("DROP TABLE spkrl.del1")
  }

  test("DELETE over a key range empty in code-point order deletes nothing") {
    root
    createTable("delord")
    import spark.implicits._
    Seq("\uE000", "\uF000", "\uD83D\uDE00").toDF("key").select(col("key"),
      lit(null).cast("binary").as("metadata"),
      array(struct(lit("k.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"), encode(col("key"), "UTF-8").as("data"))).as("entries"))
      .coalesce(1).writeTo("spkrl.delord").append()
    // U+1F600 >= U+E000 in code points, though its UTF-16 units sort below
    spark.sql("DELETE FROM spkrl.delord WHERE key >= '\uD83D\uDE00' AND key < '\uE000'")
    assert(spark.table("spkrl.delord").count() == 3)
    spark.sql("DROP TABLE spkrl.delord")
  }

  test("_shard metadata column reports each record's source shard file") {
    root
    createTable("prov")
    sampleDf(50).repartition(3).writeTo("spkrl.prov").append()
    val byShard = spark.sql("SELECT _shard, key FROM spkrl.prov").collect()
      .groupBy(_.getString(0))
    val dir = new Path(s"$root/prov")
    val listed = ShardpackDataSource
      .listShards(dir.getFileSystem(HadoopConfs.session()), dir)
      .map(_.getPath.toString).toSet
    assert(byShard.keySet == listed)
    assert(byShard.values.map(_.length).sum == 50)
    // vectorized path (no entries column) and row path agree
    val viaRow = spark.sql("SELECT _shard, key, entries FROM spkrl.prov")
      .select("_shard", "key").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaCol = byShard.toSeq.flatMap { case (s, rs) =>
      rs.toSeq.map(r => (s, r.getString(1))) }.toSet
    assert(viaRow == viaCol)
    // (_shard, _pos) is a unique physical address, ordinals start at 0 and
    // are dense within each shard — identical in both reader paths
    val addrs = spark.sql("SELECT _shard, _pos, key FROM spkrl.prov").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(addrs.distinct.length == 50)
    addrs.groupBy(_._1).values.foreach { ps =>
      assert(ps.map(_._2).sorted.toSeq == (0L until ps.length).toSeq)
    }
    val addrsRow = spark.sql("SELECT _shard, _pos, key, entries FROM spkrl.prov")
      .select("_shard", "_pos").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(addrsRow == addrs.toSet)
    spark.sql("DROP TABLE spkrl.prov")
  }

  test("UPDATE on a bucketed table preserves the bucket-tagged shard layout") {
    root
    spark.sql(
      """CREATE TABLE spkrl.bupd (
        |  key STRING NOT NULL, metadata BINARY,
        |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
        |                       encoding: STRING, data: BINARY>> NOT NULL)
        |USING shardpack PARTITIONED BY (bucket(4, key))""".stripMargin)
    sampleDf(80).writeTo("spkrl.bupd").append()
    spark.sql("UPDATE spkrl.bupd SET metadata = CAST('u' AS BINARY) " +
      "WHERE key = 'key00007'")
    // every surviving shard still carries its bucket tag (the rewrite went
    // through the same RequiresDistributionAndOrdering write), so scans
    // keep reporting KeyGroupedPartitioning and SPJ stays shuffle-free
    val names = shardNames("bupd")
    assert(names.nonEmpty)
    names.foreach(n => assert(
      ShardpackDataSource.BucketedName.findFirstMatchIn(n).isDefined,
      s"rewrite produced an unbucketed shard: $n"))
    val rows = spark.table("spkrl.bupd").select("key", "metadata").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(rows.size == 80 && rows("key00007") == "u" && rows("key00008") == "meta-00008")
    spark.sql("DROP TABLE spkrl.bupd")
  }

  test("UPDATE preserves multi-entry sibling payloads byte-identically") {
    root
    createTable("multi")
    import spark.implicits._
    spark.range(30L).select(
        format_string("key%05d", $"id").as("key"),
        lit(null).cast("binary").as("metadata"),
        array(
          struct(lit("meta.json").as("file_name"), lit("application/json").as("content_type"),
            lit("").as("encoding"), encode(format_string("{\"i\":%d}", $"id"), "UTF-8").as("data")),
          struct(lit("blob.bin").as("file_name"), lit("application/octet-stream").as("content_type"),
            lit("").as("encoding"), sha2(format_string("%d", $"id"), 256).cast("binary").as("data")))
          .as("entries"))
      .writeTo("spkrl.multi").append()
    val before = spark.table("spkrl.multi")
      .select($"key", element_at($"entries", 2).getField("data").as("blob"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

    spark.sql("UPDATE spkrl.multi SET metadata = CAST('touched' AS BINARY) " +
      "WHERE key < 'key00010'")

    val rows = spark.table("spkrl.multi")
      .select($"key", $"metadata",
        element_at($"entries", 1).getField("data").cast("string").as("meta_json"),
        element_at($"entries", 2).getField("data").as("blob"),
        size($"entries").as("n"))
      .collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val k = r.getString(0)
      assert(r.getInt(4) == 2, s"$k lost an entry")
      assert(r.getAs[Array[Byte]](3).toSeq == before(k), s"$k blob changed")
      val i = k.drop(3).toInt
      assert(r.getString(2) == s"""{"i":$i}""", s"$k json changed")
      if (k < "key00010") assert(new String(r.getAs[Array[Byte]](1), "UTF-8") == "touched")
      else assert(r.get(1) == null)
    }
    spark.sql("DROP TABLE spkrl.multi")
  }

  test("randomized DML rounds match a driver-side model (seeded)") {
    root
    createTable("fuzz")
    sampleDf(150).repartitionByRange(5, col("key")).sortWithinPartitions("key")
      .writeTo("spkrl.fuzz").append()
    spark.sql("CALL spkrl.system.build_index('fuzz')")
    // model: key -> metadata string
    val model = scala.collection.mutable.Map[String, String](
      (0 until 150).map(i => f"key$i%05d" -> f"meta-$i%05d"): _*)
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 6) {
      rnd.nextInt(3) match {
        case 0 => // keyed UPDATE of a random existing/missing key
          val k = f"key${rnd.nextInt(170)}%05d"
          spark.sql(s"UPDATE spkrl.fuzz SET metadata = CAST('r$round' AS BINARY) " +
            s"WHERE key = '$k'")
          if (model.contains(k)) model(k) = s"r$round"
        case 1 => // range DELETE via rewrite (exclusive upper bound declines
          // the metadata fast path — classify allows only >= and <)
          val lo = rnd.nextInt(140)
          val (a, b) = (f"key$lo%05d", f"key${lo + 9}%05d")
          spark.sql(s"DELETE FROM spkrl.fuzz WHERE key > '$a' AND key <= '$b'")
          model.keys.toSeq.filter(k => k > a && k <= b).foreach(model.remove)
        case 2 => // MERGE upsert of a random slab
          val lo = rnd.nextInt(160)
          val (a, b) = (f"key$lo%05d", f"key${lo + 4}%05d")
          sampleDf(170).filter(col("key") >= a && col("key") <= b)
            .withColumn("metadata", lit(s"m$round").cast("binary"))
            .createOrReplaceTempView("fuzz_src")
          spark.sql(
            """MERGE INTO spkrl.fuzz t USING fuzz_src s ON t.key = s.key
              |WHEN MATCHED THEN UPDATE SET t.metadata = s.metadata
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          (lo to lo + 4).map(i => f"key$i%05d").filter(_ <= "key00169")
            .foreach(k => model(k) = s"m$round")
      }
      val got = spark.table("spkrl.fuzz").select("key", "metadata").collect()
        .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
      assert(got == model.toMap, s"divergence after round $round")
    }
    spark.sql("DROP TABLE spkrl.fuzz")
  }

  test("UPDATE with zero matches leaves every shard in place") {
    root
    createTable("upd0")
    sampleDf(20).repartitionByRange(2, col("key")).sortWithinPartitions("key")
      .writeTo("spkrl.upd0").append()
    spark.sql("CALL spkrl.system.build_index('upd0')")
    val before = shardNames("upd0")
    spark.sql("UPDATE spkrl.upd0 SET metadata = CAST('x' AS BINARY) " +
      "WHERE key = 'nope'")
    assert(shardNames("upd0") == before)
    assert(spark.table("spkrl.upd0").count() == 20)
    spark.sql("DROP TABLE spkrl.upd0")
  }
}
