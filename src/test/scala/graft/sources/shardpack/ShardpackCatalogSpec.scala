package graft.sources.shardpack

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The shardpack TableCatalog/FunctionCatalog: catalog DDL, bucketed layout
  * writes (one shard per bucket per task), and storage-partitioned joins —
  * two tables bucketed by the same `bucket(N, key)` join with ZERO shuffle
  * exchanges on either side.
  */
class ShardpackCatalogSpec extends AnyFunSuite with SparkTestBase {

  private lazy val root = {
    val r = Files.createTempDirectory("spk-catalog").toString
    spark.conf.set("spark.sql.catalog.spk", classOf[ShardpackCatalog].getName)
    spark.conf.set("spark.sql.catalog.spk.root", r)
    r
  }

  private def sampleDf(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).select(
      format_string("key%05d", $"id").as("key"),
      lit(null).cast("binary").as("metadata"),
      array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"),
        encode(format_string("payload-%05d", $"id"), "UTF-8").as("data"))).as("entries"))
  }

  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlans(a.executedPlan)
    case other => other +: other.children.flatMap(collectPlans)
  }

  private def createBucketed(name: String, buckets: Int): Unit = {
    spark.sql(
      s"""CREATE TABLE spk.$name (
         |  key STRING NOT NULL, metadata BINARY,
         |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
         |                       encoding: STRING, data: BINARY>> NOT NULL)
         |USING shardpack PARTITIONED BY (bucket($buckets, key))""".stripMargin)
    ()
  }

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS spk.$name"); ()
  }

  test("bucketed write produces one-bucket shards tagged in the file name") {
    root // force catalog registration
    createBucketed("wtag", 4)
    sampleDf(100).writeTo("spk.wtag").append()
    val dir = new org.apache.hadoop.fs.Path(s"$root/wtag")
    val fs = dir.getFileSystem(HadoopConfs.session())
    val shards = ShardpackDataSource.listShards(fs, dir)
    assert(shards.nonEmpty)
    shards.foreach { st =>
      val m = ShardpackDataSource.BucketedName.findFirstMatchIn(st.getPath.getName)
      assert(m.isDefined, s"unbucketed shard name: ${st.getPath.getName}")
      val b = m.get.group(1).toInt
      // every record in the shard hashes to the shard's named bucket
      val keys = spark.read.format("shardpack").load(st.getPath.toString)
        .select("key").collect().map(_.getString(0))
      keys.foreach { k =>
        assert(BucketKey.bucketOf(
          org.apache.spark.unsafe.types.UTF8String.fromString(k), 4) == b, k)
      }
    }
    // all rows, exactly once
    assert(spark.table("spk.wtag").count() == 100)
    spark.sql("DROP TABLE spk.wtag")
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffles") {
    root
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      createBucketed("spj_a", 4)
      createBucketed("spj_b", 4)
      sampleDf(200).writeTo("spk.spj_a").append()
      sampleDf(150).writeTo("spk.spj_b").append() // subset of a's keys
      val joined = spark.table("spk.spj_a").as("a")
        .join(spark.table("spk.spj_b").as("b"), "key")
        .select(col("key"))
      val rows = joined.collect()
      assert(rows.length == 150)
      val shuffles = collectPlans(joined.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty,
        s"expected a storage-partitioned join, found shuffles:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      dropTable("spj_a")
      dropTable("spj_b")
    }
  }

  test("CREATE TABLE AS SELECT materializes a query into a new shardpack table") {
    root
    try {
      sampleDf(30).createOrReplaceTempView("ctas_src")
      spark.sql(
        """CREATE TABLE spk.ctas USING shardpack AS
          |SELECT key, metadata, entries FROM ctas_src WHERE key < 'key00020'""".stripMargin)
      assert(spark.table("spk.ctas").count() == 20)
      assert(spark.table("spk.ctas").filter(col("key") === "key00019").count() == 1)
    } finally dropTable("ctas")
  }

  test("CALL system.stats reports the table's metadata profile") {
    root
    try {
      spark.sql(
        """CREATE TABLE spk.st (
          |  key STRING NOT NULL, metadata BINARY,
          |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
          |                       encoding: STRING, data: BINARY>> NOT NULL)
          |USING shardpack""".stripMargin)
      (0 until 2).foreach(_ => sampleDf(25).writeTo("spk.st").append())
      val r0 = spark.sql("CALL spk.system.stats('st')").collect()(0)
      assert(r0.getLong(1) == 50 && r0.getInt(0) >= 2 && r0.getLong(2) > 0)
      assert(r0.getString(3) == "key00000" && r0.getString(4) == "key00024")
      assert(!r0.getBoolean(5)) // no sidecar yet
      spark.sql("CALL spk.system.build_index('st')")
      val r1 = spark.sql("CALL spk.system.stats('st')").collect()(0)
      assert(r1.getBoolean(5) && r1.getLong(1) == 50)
    } finally dropTable("st")
  }

  test("CALL system.vacuum removes only stale orphaned temps") {
    root
    try {
      spark.sql(
        """CREATE TABLE spk.vac (
          |  key STRING NOT NULL, metadata BINARY,
          |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
          |                       encoding: STRING, data: BINARY>> NOT NULL)
          |USING shardpack""".stripMargin)
      sampleDf(10).writeTo("spk.vac").append()
      val dir = new java.io.File(s"$root/vac")
      // a crashed job's orphan (old mtime) and a "live" job's fresh temp
      val stale = new java.io.File(dir, ".graft-tmp-deadbeef-x-part-0.shardpack")
      val fresh = new java.io.File(dir, ".graft-tmp-cafebabe-y-part-0.shardpack")
      java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
      java.nio.file.Files.write(fresh.toPath, Array[Byte](4, 5, 6))
      stale.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
      val removed = spark.sql("CALL spk.system.vacuum('vac', 24.0)")
        .collect()(0).getInt(0)
      assert(removed == 1)
      assert(!stale.exists() && fresh.exists())
      assert(spark.table("spk.vac").count() == 10) // data untouched
    } finally dropTable("vac")
  }

  test("stored procedures: CALL system.build_index / compact / expire_range") {
    root
    spark.sql(
      """CREATE TABLE spk.proc1 (
        |  key STRING NOT NULL, metadata BINARY,
        |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
        |                       encoding: STRING, data: BINARY>> NOT NULL)
        |USING shardpack""".stripMargin)
    try {
      // several appends → several small shards
      (0 until 3).foreach(_ => sampleDf(5).writeTo("spk.proc1").append())
      val idx = spark.sql("CALL spk.system.build_index('proc1')").collect()
      assert(idx.length == 1 && idx.head.getInt(0) >= 3)
      val compacted = spark.sql("CALL spk.system.compact('proc1', 0.5)").collect()
      assert(compacted.head.getInt(0) >= 3)
      assert(spark.table("spk.proc1").count() == 15)
      val done = spark.sql(
        "CALL spk.system.expire_range('proc1', 'key00002', 'key00004')").collect()
      assert(done.head.getBoolean(0))
      // keys 2,3 expired (3 copies each)
      assert(spark.table("spk.proc1").count() == 9)
      assert(spark.table("spk.proc1")
        .filter(col("key") === "key00002").count() == 0)
      // procedures are discoverable
      val listed = spark.sql("SHOW PROCEDURES IN spk.system").collect()
        .map(_.mkString).mkString(",")
      assert(listed.contains("build_index") && listed.contains("compact"))
    } finally dropTable("proc1")
  }

  test("SQL DELETE FROM: key set, key range, and full truncate") {
    root
    spark.sql(
      """CREATE TABLE spk.del1 (
        |  key STRING NOT NULL, metadata BINARY,
        |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
        |                       encoding: STRING, data: BINARY>> NOT NULL)
        |USING shardpack""".stripMargin)
    try {
      sampleDf(20).writeTo("spk.del1").append()
      // equality / IN → deleteKeys generation swap
      spark.sql("DELETE FROM spk.del1 WHERE key = 'key00003'")
      assert(spark.table("spk.del1").count() == 19)
      spark.sql("DELETE FROM spk.del1 WHERE key IN ('key00004', 'key00005')")
      assert(spark.table("spk.del1").count() == 17)
      assert(spark.table("spk.del1")
        .filter(col("key").isin("key00003", "key00004", "key00005")).count() == 0)
      // half-open range [lo, hi) → deleteRange
      spark.sql("DELETE FROM spk.del1 WHERE key >= 'key00010' AND key < 'key00015'")
      assert(spark.table("spk.del1").count() == 12)
      assert(spark.table("spk.del1").filter(col("key") === "key00015").count() == 1)
      // a condition on a payload column has no metadata-only path — it
      // takes the row-level REWRITE instead (RowLevelOpsSpec covers it in
      // depth); sampleDf writes null metadata so nothing matches here
      spark.sql("DELETE FROM spk.del1 WHERE metadata IS NOT NULL")
      assert(spark.table("spk.del1").count() == 12)
      // unconditional delete → truncate
      spark.sql("DELETE FROM spk.del1")
      assert(spark.table("spk.del1").count() == 0)
    } finally dropTable("del1")
  }

  test("catalog lifecycle: list, rename, drop") {
    root
    createBucketed("life1", 2)
    sampleDf(10).writeTo("spk.life1").append()
    assert(spark.sql("SHOW TABLES IN spk").collect()
      .map(_.getString(1)).contains("life1"))
    spark.sql("ALTER TABLE spk.life1 RENAME TO life2") // target is catalog-relative
    assert(spark.table("spk.life2").count() == 10)
    spark.sql("DROP TABLE spk.life2")
    assert(!spark.sql("SHOW TABLES IN spk").collect()
      .map(_.getString(1)).contains("life2"))
  }
}
