package graft.sources.shardpack

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** End-to-end DSv2 tests: `format("shardpack")` write → read through the
  * public Spark API, shard rolling, overwrite semantics, key-filter
  * pushdown and nested column pruning.
  */
class ShardpackDataSourceSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("shardpack-test").toString

  private def sampleDf(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).select(
      format_string("key%05d", $"id").as("key"),
      to_json(struct($"id")).cast(BinaryType).as("metadata"),
      array(
        struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"),
          encode(format_string("payload-%05d-", $"id"), "UTF-8").as("data")),
        struct(lit("meta.json").as("file_name"), lit("application/json").as("content_type"),
          lit("gzip").as("encoding"),
          encode(format_string("""{"i":%d}""", $"id"), "UTF-8").as("data"))
      ).as("entries"))
  }

  test("written shards stamp a key-range envelope; out-of-range lookups prune") {
    val dir = tmpDir()
    sampleDf(50).coalesce(1).write.format("shardpack").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    val st = ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir)).head
    val in = fs.open(st.getPath)
    val footer = try ShardpackFormat.readFooter(st.getLen, (pos, len) => {
      val b = new Array[Byte](len); in.readFully(pos, b); b
    }) finally in.close()
    val (range, userMeta) = ShardpackFormat.ShardStats.unwrap(footer.shardMetadata)
    assert(range.contains(("key00000", "key00049")))
    assert(userMeta.isEmpty) // no shardMetadata option passed
    // range check drives whole-shard pruning
    assert(!ShardpackFormat.ShardStats.mayContain(footer.shardMetadata, Set("zzz")))
    assert(ShardpackFormat.ShardStats.mayContain(footer.shardMetadata, Set("key00031")))
    // metadata WITHOUT the marker passes through as user bytes (foreign shard)
    val raw = "plain-meta".getBytes
    assert(ShardpackFormat.ShardStats.unwrap(raw) == (None, raw))
    assert(ShardpackFormat.ShardStats.mayContain(raw, Set("zzz"))) // conservative
    // a LEGACY v1 envelope (stamped under UTF-16 ordering, pre-KeyOrd) is
    // parsed for its user metadata but its range is DISTRUSTED: a v1 stamp
    // of max=U+E000 would wrongly prune a lookup for a supplementary-plane
    // key under code-point comparison, so v1 shards must never prune
    val legacy = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bos)
      o.writeBytes("SPKSTAT1")
      def str16(s: String): Unit = {
        val b = s.getBytes("UTF-8"); o.writeShort(b.length); o.write(b)
      }
      str16("aaa"); str16("\uE000") // UTF-16 max BELOW the true UTF-8 max
      o.write("user-bytes".getBytes); o.flush(); bos.toByteArray
    }
    val (legacyRange, legacyUser) = ShardpackFormat.ShardStats.unwrap(legacy)
    assert(legacyRange.isEmpty, "v1 ranges must be treated as absent")
    assert(new String(legacyUser) == "user-bytes")
    assert(ShardpackFormat.ShardStats.mayContain(legacy, Set("😀"))) // 😀 not pruned
    // end-to-end: pruned lookup finds nothing, in-range lookup still works
    val back = spark.read.format("shardpack").load(dir)
    assert(back.filter(col("key") === "zzz").count() == 0)
    assert(back.filter(col("key") === "key00031").count() == 1)
  }

  test("sortedWrite yields disjoint shard key ranges; a point lookup hits one shard") {
    val dir = tmpDir()
    // deliberately scrambled input: sortedWrite must range-partition + sort
    sampleDf(200).orderBy(expr("reverse(key)"))
      .write.format("shardpack")
      .option("sortedWrite", true).option("targetShards", 4)
      .mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    val shards = ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir))
    assert(shards.length == 4)
    val ranges = shards.map { st =>
      val in = fs.open(st.getPath)
      val footer = try ShardpackFormat.readFooter(st.getLen, (pos, len) => {
        val b = new Array[Byte](len); in.readFully(pos, b); b
      }) finally in.close()
      ShardpackFormat.ShardStats.unwrap(footer.shardMetadata)._1.get
    }.sortBy(_._1)
    // contiguous global order ⇒ pairwise-disjoint ranges
    ranges.sliding(2).foreach { case Seq((_, aMax), (bMin, _)) =>
      assert(aMax < bMin, s"overlapping shard ranges: $ranges")
    }
    // every key is claimed by exactly one shard's envelope
    (0 until 200).foreach { i =>
      val k = f"key$i%05d"
      assert(ranges.count { case (lo, hi) => lo <= k && k <= hi } == 1, k)
    }
    // and the data still round-trips completely
    val back = spark.read.format("shardpack").load(dir)
    assert(back.count() == 200)
    assert(back.filter(col("key") === "key00123").count() == 1)
  }

  test("shardMetadata option survives inside the stats envelope") {
    val dir = tmpDir()
    sampleDf(3).coalesce(1).write.format("shardpack")
      .option("shardMetadata", """{"gen":"g1"}""").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(HadoopConfs.session())
    val st = ShardpackDataSource.listShards(fs, new org.apache.hadoop.fs.Path(dir)).head
    val in = fs.open(st.getPath)
    val footer = try ShardpackFormat.readFooter(st.getLen, (pos, len) => {
      val b = new Array[Byte](len); in.readFully(pos, b); b
    }) finally in.close()
    val (range, userMeta) = ShardpackFormat.ShardStats.unwrap(footer.shardMetadata)
    assert(range.isDefined)
    assert(new String(userMeta, "UTF-8") == """{"gen":"g1"}""")
  }

  test("scan reports size statistics so a small shardpack dim broadcasts in joins") {
    val dir = tmpDir()
    sampleDf(20).write.format("shardpack").mode("append").save(dir)
    val dim = spark.read.format("shardpack").load(dir).select(col("key"))
    val fact = spark.range(10000)
      .select(format_string("key%05d", col("id") % 50).as("key"), col("id"))
    val plan = fact.join(dim, "key").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast of the 20-row shardpack dim, got:\n${plan.take(800)}")
  }

  test("commit sweep is job-scoped: a concurrent job's staged temps survive") {
    val dir = tmpDir()
    // a concurrent append job's in-flight staged shard (different jobUuid)
    sampleDf(1).write.format("shardpack").mode("append").save(dir) // ensure dir exists
    val foreign = new java.io.File(dir,
      ".graft-tmp-deadbeef-cafef00d-part-00000-1-zz-0000.shardpack")
    java.nio.file.Files.write(foreign.toPath, "in-flight".getBytes)
    sampleDf(5).write.format("shardpack").mode("append").save(dir)
    assert(foreign.exists(),
      "commit swept another job's staged temp — concurrent appends would corrupt each other")
    // our own job's temps are gone (all promoted or swept)
    val leftoverOwn = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".graft-tmp-") && f.getName != foreign.getName)
    assert(leftoverOwn.isEmpty, s"own temps leaked: ${leftoverOwn.map(_.getName).toSeq}")
    foreign.delete()
  }

  test("runtime filtering narrows the key set (and intersects with pushdown)") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, In}
    val scan = new ShardpackScan(Seq("/nowhere"), ShardpackDataSource.Schema,
      keyFilter = Some(Set("k1", "k2", "k3")), verify = true)
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("key"))
    scan.filter(Array[Filter](In("key", Array("k2", "k3", "k9"))))
    assert(scan.effectiveKeys.contains(Set("k2", "k3")))
    scan.filter(Array[Filter](EqualTo("key", "k3")))
    assert(scan.effectiveKeys.contains(Set("k3")))
    // non-key runtime filters leave the set unchanged
    scan.filter(Array[Filter](EqualTo("other", "x")))
    assert(scan.effectiveKeys.contains(Set("k3")))
  }

  test("write then read round-trips all rows, keys and payloads") {
    val dir = tmpDir()
    sampleDf(200).write.format("shardpack").option("compression", "lz4").mode("append").save(dir)
    val back = spark.read.format("shardpack").load(dir)
    assert(back.count() == 200)
    val row = back.filter(col("key") === "key00007")
      .select(col("entries").getItem(0).getField("data").cast(StringType).as("body"),
        col("entries").getItem(1).getField("data").cast(StringType).as("meta"),
        col("entries").getItem(1).getField("encoding").as("enc"),
        col("metadata").cast(StringType).as("md"))
      .head()
    assert(row.getString(0) == "payload-00007-")
    assert(row.getString(1) == """{"i":7}""")
    assert(row.getString(2) == "gzip") // per-entry encoding wins over file codec
    assert(row.getString(3) == """{"id":7}""")
  }

  test("NULL metadata round-trips as NULL, distinct from empty binary") {
    val dir = tmpDir()
    spark.range(2).select(
      format_string("k%d", col("id")).as("key"),
      when(col("id") === 0, lit(null).cast(BinaryType))
        .otherwise(lit(Array.emptyByteArray)).as("metadata"),
      array(struct(lit("f").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"), lit("x".getBytes).as("data"))).as("entries"))
      .write.format("shardpack").mode("append").save(dir)
    val back = spark.read.format("shardpack").load(dir)
    assert(back.filter(col("metadata").isNull).select("key").head().getString(0) == "k0")
    val empty = back.filter(col("metadata").isNotNull).head()
    assert(empty.getString(0) == "k1")
    assert(empty.getAs[Array[Byte]]("metadata").length == 0)
  }

  test("small shardCap rolls multiple shard files per task") {
    val dir = tmpDir()
    sampleDf(500).coalesce(1).write.format("shardpack")
      .option("shardCapBytes", 4096).mode("append").save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".shardpack"))
    assert(files.length > 5, s"expected many shards, got ${files.length}")
    assert(files.forall(_.length() <= 8192), "no shard should wildly exceed the cap")
    assert(spark.read.format("shardpack").load(dir).count() == 500)
  }

  test("mode overwrite truncates previous shards") {
    val dir = tmpDir()
    sampleDf(50).write.format("shardpack").mode("append").save(dir)
    sampleDf(10).write.format("shardpack").mode("overwrite").save(dir)
    assert(spark.read.format("shardpack").load(dir).count() == 10)
  }

  test("mode append keeps previous shards") {
    val dir = tmpDir()
    sampleDf(50).write.format("shardpack").mode("append").save(dir)
    sampleDf(10).write.format("shardpack").mode("append").save(dir)
    assert(spark.read.format("shardpack").load(dir).count() == 60)
  }

  test("key equality filter is pushed down and returns the right record") {
    val dir = tmpDir()
    sampleDf(300).write.format("shardpack").mode("append").save(dir)
    val q = spark.read.format("shardpack").load(dir).filter(col("key") === "key00123")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("shardpack"), s"plan should show the shardpack scan:\n$plan")
    val rows = q.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("key") == "key00123")
  }

  test("IN-list key filter pushdown") {
    val dir = tmpDir()
    sampleDf(100).write.format("shardpack").mode("append").save(dir)
    val got = spark.read.format("shardpack").load(dir)
      .filter(col("key").isin("key00001", "key00042", "nope"))
      .select("key").collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("key00001", "key00042"))
  }

  test("column pruning: metadata-only scan works without payload decode") {
    val dir = tmpDir()
    sampleDf(50).write.format("shardpack").option("compression", "gzip").mode("append").save(dir)
    val got = spark.read.format("shardpack").load(dir)
      .select("key").orderBy("key").limit(3).collect().map(_.getString(0))
    assert(got.toSeq == Seq("key00000", "key00001", "key00002"))
    // nested: entry names without data
    val names = spark.read.format("shardpack").load(dir)
      .select(explode(col("entries").getField("file_name")).as("n"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(names.toSeq == Seq("body.txt", "meta.json"))
  }

  test("payload-free scans run vectorized and agree with the row path") {
    val dir = tmpDir()
    sampleDf(300).write.format("shardpack").mode("append").save(dir)
    val metaOnly = spark.read.format("shardpack").load(dir)
      .select(col("key"), length(col("metadata")).as("mlen"))
    // the scan emits ColumnarBatches → Spark inserts a ColumnarToRow boundary
    def plans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        plans(a.executedPlan)
      case other => other +: other.children.flatMap(plans)
    }
    assert(plans(metaOnly.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]),
      s"expected a columnar scan:\n${metaOnly.queryExecution.executedPlan}")
    // vectorized values == row-path values (force rows by selecting entries)
    val viaRows = spark.read.format("shardpack").load(dir)
      .select(col("key"), length(col("metadata")).as("mlen"), col("entries"))
      .select("key", "mlen")
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted
    val viaCols = metaOnly.collect().map(r => (r.getString(0), r.getInt(1))).sorted
    assert(viaCols.toSeq == viaRows.toSeq && viaCols.length == 300)
    // key pushdown still applies on the vectorized path
    assert(metaOnly.filter(col("key") === "key00007").count() == 1)
  }

  test("empty dataframe write produces readable empty table") {
    val dir = tmpDir()
    sampleDf(0).write.format("shardpack").mode("append").save(dir)
    assert(spark.read.format("shardpack").load(dir).count() == 0)
  }

  test("count(*) pushes down to footers: no record bytes read") {
    val dir = tmpDir()
    sampleDf(7).write.format("shardpack").mode("append").save(dir)
    sampleDf(5).write.format("shardpack").mode("append").save(dir)
    val df = spark.read.format("shardpack").load(dir)
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("footer-count"),
      s"expected the footer-count scan in:\n${plan.take(600)}")
    assert(df.count() == 12)
    // filtered counts decline the pushdown and stay exact
    assert(df.filter(col("key") === "key00003").count() == 2)
    // empty bucket counts 0, not NULL
    val empty = tmpDir()
    sampleDf(0).write.format("shardpack").mode("append").save(empty)
    assert(spark.read.format("shardpack").load(empty).count() == 0)
  }

  test("two concurrent append jobs land all rows and sweep only their own temps") {
    val dir = tmpDir()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // both jobs stage .graft-tmp-<jobUuid>-… files in the SAME directory;
    // each commit's sweep is scoped to its own jobUuid, so neither deletes
    // the other's in-flight temps (the pre-fix sweep removed every
    // non-own temp and failed the slower job's renames)
    val jobs = Seq(
      Future(sampleDf(400).write.format("shardpack").mode("append").save(dir)),
      Future(sampleDf(300).write.format("shardpack").mode("append").save(dir)))
    jobs.foreach(Await.result(_, 120.seconds))
    assert(spark.read.format("shardpack").load(dir).count() == 700)
    val leftovers = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith(".graft-tmp-"))
    assert(leftovers.isEmpty, s"staged temps not cleaned: ${leftovers.mkString(",")}")
  }

  test("sampled scan: samplePct keeps the deterministic hash membership") {
    val dir = tmpDir()
    sampleDf(400).write.format("shardpack").mode("append").save(dir)
    val full = spark.read.format("shardpack").load(dir)
    // exact membership: in-scan sampling equals the equivalent hash filter
    val expected = full.select("key").collect().map(_.getString(0))
      .filter(k => ShardpackDataSource.keyHashPct(k) < 25).toSet
    val sampled = spark.read.format("shardpack").option("samplePct", 25).load(dir)
    val got = sampled.select("key").collect().map(_.getString(0)).toSet
    assert(got == expected)
    assert(got.size > 40 && got.size < 160, s"25% of 400 took ${got.size}")
    // vectorized (payload-free) path agrees
    val gotCol = spark.read.format("shardpack").option("samplePct", 25).load(dir)
      .select("key", "metadata").collect().map(_.getString(0)).toSet
    assert(gotCol == expected)
    // rerun identical (pure function of the key)
    assert(sampled.select("key").collect().map(_.getString(0)).toSet == got)
  }

  test("samplePct composes with key filters as a conjunction") {
    val dir = tmpDir()
    sampleDf(100).write.format("shardpack").mode("append").save(dir)
    val inSample = (0 until 100).map(i => f"key$i%05d")
      .filter(k => ShardpackDataSource.keyHashPct(k) < 30)
    val out = (0 until 100).map(i => f"key$i%05d")
      .filterNot(k => ShardpackDataSource.keyHashPct(k) < 30)
    val sampled = spark.read.format("shardpack").option("samplePct", 30).load(dir)
    // a key INSIDE the sample is found; one outside is not — the sample is
    // a view of the data, filters apply within it
    assert(sampled.filter(col("key") === inSample.head).count() == 1)
    assert(sampled.filter(col("key") === out.head).count() == 0)
  }

  test("custom scan metrics report pruned shards and skipped records") {
    val dir = tmpDir()
    // sorted write → disjoint envelopes → a point lookup prunes all but
    // one shard and skips most records inside the surviving one
    sampleDf(200).orderBy("key").repartitionByRange(4, col("key"))
      .sortWithinPartitions("key")
      .write.format("shardpack").mode("append").save(dir)
    val df = spark.read.format("shardpack").load(dir)
      .filter(col("key") === "key00101").select("key", "entries")
    // collect() drives THIS QueryExecution — metrics live on its plan
    assert(df.collect().length == 1)
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.isDefined, "expected a BatchScanExec leaf")
    val m = scan.get.metrics
    assert(m.contains("shardsPruned") && m.contains("recordsSkipped"),
      s"custom metrics missing: ${m.keys.mkString(",")}")
    assert(m("shardsPruned").value == 3, s"pruned=${m("shardsPruned").value}")
    // the surviving ~50-record shard skipped everything but the match
    assert(m("recordsSkipped").value >= 40, s"skipped=${m("recordsSkipped").value}")
  }

  test("min/max(key) push down to footer stats alongside count(*)") {
    val dir = tmpDir()
    sampleDf(7).write.format("shardpack").mode("append").save(dir)
    sampleDf(5).write.format("shardpack").mode("append").save(dir)
    val df = spark.read.format("shardpack").load(dir)
    val profile = df.agg(count(lit(1)).as("n"),
      min(col("key")).as("lo"), max(col("key")).as("hi"))
    val plan = profile.queryExecution.executedPlan.toString
    assert(plan.contains("footer-count"),
      s"expected the footer aggregate scan in:\n${plan.take(600)}")
    val r = profile.collect()(0)
    assert(r.getLong(0) == 12 && r.getString(1) == "key00000" &&
      r.getString(2) == "key00006")
    // empty bucket: count 0, null extremes
    val empty = tmpDir()
    sampleDf(0).write.format("shardpack").mode("append").save(empty)
    val er = spark.read.format("shardpack").load(empty)
      .agg(count(lit(1)), min(col("key")), max(col("key"))).collect()(0)
    assert(er.getLong(0) == 0 && er.isNullAt(1) && er.isNullAt(2))
  }

  test("key-range and prefix pushdown: records filter exactly, sorted shards prune at planning") {
    val dir = tmpDir()
    sampleDf(200).orderBy(expr("reverse(key)"))
      .write.format("shardpack")
      .option("sortedWrite", true).option("targetShards", 4)
      .mode("append").save(dir)
    val df = spark.read.format("shardpack").load(dir)
    val r = df.filter(col("key") >= "key00010" && col("key") < "key00012")
      .select("key").collect().map(_.getString(0)).sorted
    assert(r.toSeq == Seq("key00010", "key00011"))
    assert(df.filter(col("key") > "key00197").count() == 2)
    assert(df.filter(col("key") <= "key00001").count() == 2)
    assert(df.filter(col("key").startsWith("key0001")).count() == 10)
    assert(df.filter(col("key") > "zzz").count() == 0)
    // with the sidecar built, a bounded range plans ONLY the intersecting
    // shard of the sorted layout
    ShardpackIndex.build(spark, dir)
    val parts = spark.read.format("shardpack").load(dir)
      .filter(col("key") >= "key00010" && col("key") < "key00012")
      .select("key").rdd.getNumPartitions
    assert(parts == 1, s"range scan planned $parts shards, expected 1")
  }

  test("multi-path load unions buckets; key pushdown and stats span all of them") {
    val a = tmpDir()
    val b = tmpDir()
    sampleDf(3).write.format("shardpack").mode("append").save(a)
    sampleDf(5).limit(5).filter(col("key") > "key00002")
      .write.format("shardpack").mode("append").save(b)
    val both = spark.read.format("shardpack").load(a, b)
    assert(both.count() == 5) // 3 ∪ {key00003, key00004}
    val keys = both.select("key").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("key00000", "key00001", "key00002", "key00003", "key00004"))
    // pushdown still reaches every bucket
    assert(both.filter(col("key") === "key00004").count() == 1)
  }

  test("entryNames option: partial read decodes only the named entries") {
    val dir = tmpDir()
    sampleDf(4).coalesce(1).write.format("shardpack").mode("append").save(dir)
    val rows = spark.read.format("shardpack").option("entryNames", "meta.json").load(dir)
      .select(col("key"), size(col("entries")).as("n"),
        col("entries").getItem(0).getField("file_name").as("fn"),
        col("entries").getItem(0).getField("data").cast("string").as("d"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(rows.length == 4)
    assert(rows.forall(r => r._2 == 1 && r._3 == "meta.json"))
    assert(rows.head._4 == """{"i":0}""")
    // behavioral proof of "partial": corrupt body.txt's stored payload on
    // disk — the meta.json-only read never touches those bytes (no decode,
    // no checksum), while a full read fails its checksum verification
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".shardpack")).head
    val bytes = Files.readAllBytes(f.toPath)
    val needle = "payload-00002-".getBytes("UTF-8").toIndexedSeq
    val at = bytes.toIndexedSeq.indexOfSlice(needle)
    assert(at > 0, "uncompressed body payload must be on disk")
    bytes(at) = (bytes(at) ^ 0x1).toByte
    Files.write(f.toPath, bytes)
    // drop Hadoop LocalFS's own .crc sidecar so only OUR record checksum is
    // in play (the edit invalidated both)
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    assert(spark.read.format("shardpack").option("entryNames", "meta.json").load(dir)
      .select(col("entries").getField("data")).collect().length == 4)
    intercept[Exception] {
      spark.read.format("shardpack").load(dir)
        .select(col("entries").getField("data")).collect()
    }
  }

  test("sampled read answers count/min/max from records, not footer stats") {
    val dir = tmpDir()
    sampleDf(400).write.format("shardpack").mode("append").save(dir)
    val allKeys = (0 until 400).map(i => f"key$i%05d")
    val inSample = allKeys.filter(k => ShardpackDataSource.keyHashPct(k) < 25)
    assert(inSample.nonEmpty && inSample.size < 400)
    val sampled = spark.read.format("shardpack").option("samplePct", 25).load(dir)
    // the sample is a VIEW of the data: count() must be the sampled count —
    // the footer aggregate pushdown (full-table stats) must decline
    assert(sampled.count() == inSample.size)
    val plan = sampled.groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.contains("footer-count"),
      s"sampled count answered from footers:\n${plan.take(600)}")
    // min/max likewise reflect the sampled view
    val Row(mn: String, mx: String) =
      sampled.agg(min(col("key")), max(col("key"))).head()
    assert(mn == inSample.min && mx == inSample.max)
    // unsampled reads keep the footer pushdown
    val fullPlan = spark.read.format("shardpack").load(dir)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(fullPlan.contains("footer-count"))
  }

  test("pushed LIMIT does not under-schedule a sampled read") {
    val dir = tmpDir()
    // three disjoint-key shards of 100 records, indexed so the limit
    // prefix cap has counts to act on
    def slice(lo: Int, n: Int) = {
      import spark.implicits._
      spark.range(lo.toLong, (lo + n).toLong).select(
        format_string("key%05d", $"id").as("key"),
        lit(null).cast(BinaryType).as("metadata"),
        array(struct(lit("b.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), encode(format_string("p%05d", $"id"), "UTF-8").as("data"))
        ).as("entries"))
    }
    slice(0, 100).coalesce(1).write.format("shardpack").mode("append").save(dir)
    slice(100, 100).coalesce(1).write.format("shardpack").mode("append").save(dir)
    slice(200, 100).coalesce(1).write.format("shardpack").mode("append").save(dir)
    ShardpackIndex.build(spark, dir)
    val sampledTotal = (0 until 300).map(i => f"key$i%05d")
      .count(k => ShardpackDataSource.keyHashPct(k) < 10)
    // sampled total (~30) exceeds what any one shard yields after sampling;
    // the raw-count prefix cap would plan 1 shard for LIMIT 25 and return
    // ~10 rows — the cap must be disabled under samplePct
    assert(sampledTotal > 15, s"sample too small for the test: $sampledTotal")
    val lim = sampledTotal - 1
    val got = spark.read.format("shardpack").option("samplePct", 10).load(dir)
      .limit(lim).collect().length
    assert(got == lim, s"LIMIT $lim on sampled read returned $got rows")
    // planning contract: with samplePct the prefix cap is off (all shards)
    assert(new ShardpackScan(Seq(dir), ShardpackDataSource.Schema, None, true,
      limit = Some(2), samplePct = Some(10)).planInputPartitions().length == 3)
    // and still on for the unsampled read
    assert(new ShardpackScan(Seq(dir), ShardpackDataSource.Schema, None, true,
      limit = Some(2)).planInputPartitions().length == 1)
  }

  test("pushed MIN/MAX(key) agrees with a real scan on supplementary-plane keys") {
    val dir = tmpDir()
    // U+1F600 sorts BELOW U+E000 in Java's UTF-16 order but ABOVE it in
    // Spark's UTF8String order; stats stamped in the wrong order would make
    // the footer-answered MAX(key) disagree with a record scan
    val smiley = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    import spark.implicits._
    val df = Seq("a", pua, smiley).toDF("k").select(
      col("k").as("key"), lit(null).cast(BinaryType).as("metadata"),
      array(struct(lit("f").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"), encode(col("k"), "UTF-8").as("data"))).as("entries"))
    df.coalesce(1).write.format("shardpack").mode("append").save(dir)
    val read = spark.read.format("shardpack").load(dir)
    val agg = read.agg(min(col("key")).as("mn"), max(col("key")).as("mx"))
    // confirm the answer comes from footers…
    assert(agg.queryExecution.executedPlan.toString.contains("footer-count"))
    val Row(mn: String, mx: String) = agg.head()
    // …and matches what Spark itself computes from the records (samplePct=100
    // keeps every row but declines the footer pushdown → a true record scan)
    val Row(rmn: String, rmx: String) =
      spark.read.format("shardpack").option("samplePct", 100).load(dir)
        .agg(min(col("key")), max(col("key"))).head()
    assert(mn == rmn && mx == rmx, s"footer ($mn,$mx) vs scan ($rmn,$rmx)")
    assert(mx == smiley, "MAX must be the supplementary-plane key (UTF-8 order)")
  }

  test("corrupted shard surfaces a checksum error on read") {
    val dir = tmpDir()
    sampleDf(5).coalesce(1).write.format("shardpack").mode("append").save(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".shardpack")).head
    val bytes = Files.readAllBytes(f.toPath)
    bytes(30) = (bytes(30) ^ 0x77).toByte
    Files.write(f.toPath, bytes)
    val e = intercept[Exception] {
      spark.read.format("shardpack").load(dir)
        .select(col("entries").getField("data")).collect()
    }
    assert(e.getMessage != null)
  }
}
