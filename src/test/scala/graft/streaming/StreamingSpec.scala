package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.shardpack.{ShardpackDataSource, ShardpackIndex}
import StreamingOps._

/** Incremental (MemoryStream-driven) tests of the streaming surface:
  * watermark + tumbling windows with late-data drop, session windows, keyed
  * dedup within watermark, custom stateful sessionization, and the shardpack
  * streaming sink.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def ts(minute: Int, second: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$second%02d")

  private def ev(id: Long, t: Timestamp, user: Long = 1L,
      typ: String = "click", value: Double = 1.0): Event =
    Event(id, t, user, typ, value)

  test("tumbling window with watermark finalizes windows and drops late data") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = windowCounts(in.toDF(), "1 minute", "1 minute", watermark = "2 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Append).start()
    try {
      // 0.1 + 0.2 is 0.30000000000000004 in double arithmetic; the window
      // state sums DECIMAL, so the finalized sum is exactly 0.3
      in.addData(ev(1, ts(0, 10), value = 0.1), ev(2, ts(0, 40), value = 0.2),
        ev(3, ts(1, 10), value = 2.75))
      q.processAllAvailable()
      // watermark = max(ts)-2min = 09:59 → nothing finalized yet
      assert(spark.table("tumbling").count() == 0)
      in.addData(ev(4, ts(4, 0))) // advances watermark to 10:02
      q.processAllAvailable()
      val rows = spark.table("tumbling").orderBy("win_start").collect()
      assert(rows.map(r => (r.getTimestamp(0), r.getLong(1))).toSeq ==
        Seq((ts(0, 0), 2L), (ts(1, 0), 1L)))
      assert(rows.map(_.getAs[Double]("sum_value")).toSeq == Seq(0.3, 2.75))
      // a late event inside an already-finalized window is dropped
      in.addData(ev(5, ts(0, 50)))
      q.processAllAvailable()
      assert(spark.table("tumbling").agg(sum("cnt")).head().getLong(0) == 3L)
      assert(spark.table("tumbling").orderBy("win_start").collect()
        .map(_.getAs[Double]("sum_value")).toSeq == Seq(0.3, 2.75))
    } finally q.stop()
  }

  test("session window groups events within the gap per user") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = sessionCounts(in.toDF(), watermark = "5 minutes", gap = "2 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 10:00, 10:01 (one session) then 10:10 (new session)
      in.addData(ev(1, ts(0)), ev(2, ts(1)), ev(3, ts(10)))
      in.addData(ev(9, ts(30))) // push the watermark far ahead to close all
      q.processAllAvailable()
      val rows = spark.table("sessions").orderBy("sess_start").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(rows.take(2).toSeq == Seq(
        (1L, ts(0), ts(3), 2L),   // session end = last event + gap
        (1L, ts(10), ts(12), 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups keyed repeats") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = dedupWithinWatermark(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        ev(1, ts(0), user = 1, typ = "click"),
        ev(2, ts(1), user = 1, typ = "click"), // dup key within watermark
        ev(3, ts(1), user = 1, typ = "buy"),
        ev(4, ts(2), user = 2, typ = "click"))
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 3)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization emits closed sessions across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = sessionizeWithState(in.toDS(), gapMs = 2 * 60 * 1000)
      .writeStream.format("memory").queryName("statesess").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, ts(0)), ev(2, ts(1)))
      q.processAllAvailable()
      assert(spark.table("statesess").count() == 0) // session still open
      in.addData(ev(3, ts(10))) // 9-min silence closes the first session
      q.processAllAvailable()
      val r = spark.table("statesess").head()
      assert(r.getAs[Timestamp]("sess_start") == ts(0))
      assert(r.getAs[Timestamp]("sess_end") == ts(3)) // last + gap
      assert(r.getAs[Int]("cnt") == 2)
    } finally q.stop()
  }

  test("streaming near-dup: later near-identical docs report against the first claimant") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Doc]
    val q = streamNearDupCandidates(in.toDS(),
        watermark = "2 minutes", retentionMs = 60L * 60 * 1000)
      .writeStream.format("memory").queryName("neardup").outputMode(OutputMode.Append).start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      in.addData(Doc(1, ts(0), base))
      q.processAllAvailable()
      // first claimant registers its buckets silently
      assert(spark.table("neardup").count() == 0)
      // near-identical doc shares ≥1 band bucket; unrelated doc shares none
      in.addData(Doc(2, ts(1), base + "!"),
        Doc(3, ts(1), "completely different content about spark engines and shard files"))
      q.processAllAvailable()
      val pairs = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
      assert(pairs == Seq((2L, 1L)))
      // watermark passes retention → buckets reclaimed; the same text then
      // claims FRESH buckets and reports nothing (state really was removed)
      in.addData(Doc(8, Timestamp.valueOf("2024-01-01 12:00:00"), "watermark advancer"))
      q.processAllAvailable()
      val before = spark.table("neardup").count()
      in.addData(Doc(9, Timestamp.valueOf("2024-01-01 12:00:30"), base))
      q.processAllAvailable()
      assert(spark.table("neardup").count() == before)
      // shingle-less docs never collide (batch semantics: no shingles → no
      // signature → no pairs)
      in.addData(Doc(20, Timestamp.valueOf("2024-01-01 12:01:00"), "ab"),
        Doc(21, Timestamp.valueOf("2024-01-01 12:01:10"), "cd"))
      q.processAllAvailable()
      assert(spark.table("neardup").count() == before)
    } finally q.stop()
  }

  test("ingest pipeline end-to-end: shardpack tail → online near-dup filter → shardpack sink") {
    import spark.implicits._
    val src = Files.createTempDirectory("pipe-src").toString
    val dst = Files.createTempDirectory("pipe-dst").toString + "/cands"
    val ckpt = Files.createTempDirectory("pipe-ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def land(rows: (Long, String)*): Unit = rows.toSeq.toDF("id", "text")
      .select(format_string("doc_%05d", $"id").as("key"),
        lit(Array.empty[Byte]).as("metadata"),
        array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), $"text".cast("binary").as("data"))).as("entries"))
      .coalesce(1).write.format("shardpack").mode("append").save(src)
    land(1L -> base,
      2L -> "completely different content about spark engines and shard files")
    // tail the bucket, reshape records to docs (event time derived from id)
    val docs = spark.readStream.format("shardpack").load(src)
      .select(substring($"key", 5, 5).cast("long").as("doc_id"),
        (lit(1704103200L) + substring($"key", 5, 5).cast("long")).cast("timestamp").as("ts"),
        $"entries".getItem(0).getField("data").cast("string").as("text"))
      .as[Doc]
    val q = streamNearDupCandidates(docs,
        watermark = "10 minutes", retentionMs = 60L * 60 * 1000)
      .select(format_string("dup_%05d_%05d_b%d", $"doc_id", $"dup_of", $"band").as("key"),
        lit(Array.empty[Byte]).as("metadata"),
        array(struct(lit("cand.json").as("file_name"), lit("application/json").as("content_type"),
          lit("").as("encoding"),
          to_json(struct($"doc_id", $"dup_of", $"band")).cast("binary").as("data"))).as("entries"))
      .writeStream.format("shardpack")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .start(dst)
    try {
      q.processAllAvailable()
      // two dissimilar documents admitted: no candidates published
      assert(spark.read.format("shardpack").load(dst).count() == 0)
      land(3L -> (base + "!")) // near-dup of doc 1 arrives later
      q.processAllAvailable()
      val out = spark.read.format("shardpack").load(dst)
        .select($"entries".getItem(0).getField("data").cast("string"))
        .collect().map(_.getString(0))
      assert(out.nonEmpty, "the near-dup must be reported")
      out.foreach { s =>
        assert(s.contains("\"doc_id\":3") && s.contains("\"dup_of\":1"), s)
      }
    } finally q.stop()
  }

  test("near-dup state survives a query restart: first claimant recovered from checkpoint") {
    import spark.implicits._
    val src = Files.createTempDirectory("ndr-src").toString
    val dst = Files.createTempDirectory("ndr-dst").toString + "/cands"
    val ckpt = Files.createTempDirectory("ndr-ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def land(rows: (Long, String)*): Unit = rows.toSeq.toDF("id", "text")
      .select(format_string("doc_%05d", $"id").as("key"),
        lit(Array.empty[Byte]).as("metadata"),
        array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), $"text".cast("binary").as("data"))).as("entries"))
      .coalesce(1).write.format("shardpack").mode("append").save(src)
    def pipeline() = {
      val docs = spark.readStream.format("shardpack").load(src)
        .select(substring($"key", 5, 5).cast("long").as("doc_id"),
          (lit(1704103200L) + substring($"key", 5, 5).cast("long")).cast("timestamp").as("ts"),
          $"entries".getItem(0).getField("data").cast("string").as("text"))
        .as[Doc]
      streamNearDupCandidates(docs,
          watermark = "10 minutes", retentionMs = 60L * 60 * 1000)
        .select(format_string("dup_%05d_%05d_b%d", $"doc_id", $"dup_of", $"band").as("key"),
          lit(Array.empty[Byte]).as("metadata"),
          array(struct(lit("c.json").as("file_name"), lit("application/json").as("content_type"),
            lit("").as("encoding"),
            to_json(struct($"doc_id", $"dup_of")).cast("binary").as("data"))).as("entries"))
        .writeStream.format("shardpack")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .start(dst)
    }
    // run 1 admits the original document, then stops
    val q1 = pipeline()
    land(1L -> base)
    try q1.processAllAvailable() finally q1.stop()
    // run 2 recovers the bucket-claim state from the checkpoint: a near-dup
    // landing only AFTER the restart is still reported against doc 1
    land(2L -> (base + "!"))
    val q2 = pipeline()
    try {
      q2.processAllAvailable()
      val out = spark.read.format("shardpack").load(dst)
        .select($"entries".getItem(0).getField("data").cast("string"))
        .collect().map(_.getString(0))
      assert(out.nonEmpty, "restart must not lose the first claimant's state")
      out.foreach(s => assert(s.contains("\"doc_id\":2") && s.contains("\"dup_of\":1"), s))
    } finally q2.stop()
  }

  test("shardpack streaming sink appends one batch of shards per epoch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-stream").toString
    val ckpt = Files.createTempDirectory("shardpack-ckpt").toString
    val in = MemoryStream[Event]
    val q = in.toDF()
      .select(
        concat(lit("ev_"), lpad($"event_id".cast("string"), 6, "0")).as("key"),
        to_json(struct($"user_id", $"event_type")).cast("binary").as("metadata"),
        array(struct(
          lit("event.json").as("file_name"), lit("application/json").as("content_type"),
          lit("").as("encoding"), to_json(struct($"value")).cast("binary").as("data")))
          .as("entries"))
      .writeStream.format("shardpack")
      .option("checkpointLocation", ckpt)
      .option("compression", "gzip")
      .outputMode(OutputMode.Append)
      .start(dir)
    try {
      in.addData(ev(1, ts(0)), ev(2, ts(1)))
      q.processAllAvailable()
      in.addData(ev(3, ts(2)))
      q.processAllAvailable()
      val back = spark.read.format("shardpack").load(dir)
      assert(back.count() == 3)
      val keys = back.select("key").collect().map(_.getString(0)).sorted
      assert(keys.toSeq == Seq("ev_000001", "ev_000002", "ev_000003"))
      val payload = back.filter($"key" === "ev_000003")
        .select($"entries".getItem(0).getField("data").cast("string")).head().getString(0)
      assert(payload == """{"value":1.0}""")
      // shard names are a deterministic function of (epoch, partition, seq):
      // the commit skips already-published names, so epoch replays after
      // checkpoint recovery cannot double-publish
      val names = new java.io.File(dir).listFiles.map(_.getName)
        .filter(_.endsWith(".shardpack")).sorted
      assert(names.nonEmpty && names.forall(_.matches("epoch-\\d{6}-part-\\d{5}-\\d{4}\\.shardpack")),
        s"expected epoch-deterministic shard names, got ${names.mkString(",")}")
      assert(names.map(_.take(12)).distinct.length == 2, "one epoch prefix per micro-batch")
    } finally q.stop()
  }

  test("shardpack streaming source tails a bucket as new shards land") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-src").toString
    val ckpt = Files.createTempDirectory("shardpack-src-ckpt").toString
    def docs(ids: Range) = ids.toDF("i").select(
      format_string("doc_%05d", $"i").as("key"),
      lit(Array.empty[Byte]).as("metadata"),
      array(struct(
        lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"),
        concat(lit("payload "), $"i".cast("string")).cast("binary").as("data")))
        .as("entries"))
    docs(0 until 5).write.format("shardpack").mode("append").save(dir)

    val q = spark.readStream.format("shardpack").load(dir)
      .select($"key", $"entries".getItem(0).getField("data").cast("string").as("body"))
      .writeStream.format("memory").queryName("sp_tail")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sp_tail").count() == 5, "initial shards must be emitted")
      docs(5 until 8).write.format("shardpack").mode("append").save(dir)
      q.processAllAvailable()
      val rows = spark.table("sp_tail").collect()
      assert(rows.length == 8, "appended shards must stream exactly once")
      assert(rows.map(_.getString(0)).sorted.toSeq ==
        (0 until 8).map(i => f"doc_$i%05d"))
      assert(rows.find(_.getString(0) == "doc_00007").get.getString(1) == "payload 7")
    } finally q.stop()
    // sampled tail: the streaming source honors samplePct with the same
    // deterministic key-hash membership as the batch scan
    val ckpt2 = Files.createTempDirectory("shardpack-src-ckpt2").toString
    val q2 = spark.readStream.format("shardpack").option("samplePct", 50).load(dir)
      .select($"key")
      .writeStream.format("memory").queryName("sp_tail_sampled")
      .option("checkpointLocation", ckpt2)
      .start()
    try {
      q2.processAllAvailable()
      val got = spark.table("sp_tail_sampled").collect().map(_.getString(0)).toSet
      val expected = (0 until 8).map(i => f"doc_$i%05d")
        .filter(k => ShardpackDataSource.keyHashPct(k) < 50).toSet
      assert(got == expected)
    } finally q2.stop()
  }

  test("shardpack source recovers offsets across query restart (no replays)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-restart").toString
    val ckpt = Files.createTempDirectory("shardpack-restart-ckpt").toString
    def docs(ids: Range) = ids.toDF("i").select(
      format_string("doc_%05d", $"i").as("key"),
      lit(Array.empty[Byte]).as("metadata"),
      array(struct(
        lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
        lit("").as("encoding"), $"i".cast("string").cast("binary").as("data")))
        .as("entries"))
    val out = Files.createTempDirectory("shardpack-restart-out").toString
    def start() = spark.readStream.format("shardpack").load(dir)
      .select($"key")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .start()

    docs(0 until 4).write.format("shardpack").mode("append").save(dir)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 4)

    // new shards land while no query is running; the restarted query must
    // resume from the checkpointed offset — old shards NOT re-emitted
    docs(4 until 6).write.format("shardpack").mode("append").save(dir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val keys = spark.read.parquet(out).collect().map(_.getString(0)).toSeq
      assert(keys.sorted == (0 until 6).map(i => f"doc_$i%05d"),
        s"expected exactly-once emission, got $keys")
    } finally q2.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch to k shards") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-throttle").toString
    val ckpt = Files.createTempDirectory("shardpack-throttle-ckpt").toString
    // three saves × repartition(1) = exactly three shard files
    for (batch <- 0 until 3) {
      (batch * 10 until batch * 10 + 10).toDF("i").repartition(1).select(
        format_string("doc_%05d", $"i").as("key"),
        lit(Array.empty[Byte]).as("metadata"),
        array(struct(
          lit("b.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), $"i".cast("string").cast("binary").as("data")))
          .as("entries"))
        .write.format("shardpack").mode("append").save(dir)
    }
    val q = spark.readStream.format("shardpack")
      .option("maxFilesPerTrigger", 1).load(dir)
      .select($"key")
      .writeStream.format("memory").queryName("sp_throttle")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sp_throttle").count() == 30)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"expected 3 one-shard batches, got ${batches.map(_.numInputRows).mkString(",")}")
      assert(batches.forall(_.numInputRows == 10))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches then stops") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-avnow").toString
    val ckpt = Files.createTempDirectory("shardpack-avnow-ckpt").toString
    for (batch <- 0 until 3) {
      (batch * 10 until batch * 10 + 10).toDF("i").repartition(1).select(
        format_string("doc_%05d", $"i").as("key"),
        lit(Array.empty[Byte]).as("metadata"),
        array(struct(
          lit("b.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), $"i".cast("string").cast("binary").as("data")))
          .as("entries"))
        .write.format("shardpack").mode("append").save(dir)
    }
    // the batch-backfill mode: process everything available (respecting
    // admission control), then terminate — no manual stop
    val q = spark.readStream.format("shardpack")
      .option("maxFilesPerTrigger", 1).load(dir)
      .select($"key")
      .writeStream.format("memory").queryName("sp_avnow")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(spark.table("sp_avnow").count() == 30)
    // admission control still applies during the drain: 3 one-shard batches
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3,
      s"expected 3 bounded batches, got ${batches.map(_.numInputRows).mkString(",")}")
  }

  test("windowed aggregation runs on the RocksDB state store provider") {
    // DESIGN.md claims RocksDB-backed state at production scale — prove the
    // provider actually serves this pipeline (state survives across batches)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val q = windowCounts(in.toDF(), "1 minute", "1 minute", watermark = "2 minutes")
        .writeStream.format("memory").queryName("rocks").outputMode(OutputMode.Append).start()
      try {
        in.addData(ev(1, ts(0, 10)), ev(2, ts(0, 40)))
        q.processAllAvailable()
        in.addData(ev(3, ts(0, 50)), ev(4, ts(4, 0))) // same window, later batch
        q.processAllAvailable()
        val rows = spark.table("rocks").orderBy("win_start").collect()
        // the 10:00 window accumulated across batches inside RocksDB state
        assert(rows.map(r => (r.getTimestamp(0), r.getLong(1))).toSeq ==
          Seq((ts(0, 0), 3L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream interval join pairs clicks with views within the bound") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = StreamingOps.clickAfterView(views.toDF(), clicks.toDF(),
        maxDelay = "5 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("vc").outputMode(OutputMode.Append).start()
    try {
      views.addData(ev(1, ts(0), user = 7), ev(2, ts(20), user = 7))
      clicks.addData(
        ev(101, ts(3), user = 7), // within 5 min of view 1 → pair
        ev(102, ts(9), user = 7), // 9 min after view 1 → outside bound
        ev(103, ts(21), user = 8)) // other user → no pair
      q.processAllAvailable()
      val pairs = spark.table("vc").select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 101L)))
      // a click near the SECOND view pairs with it only
      clicks.addData(ev(104, ts(23), user = 7))
      q.processAllAvailable()
      val pairs2 = spark.table("vc").select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2 == Set((1L, 101L), (2L, 104L)))
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dim per micro-batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = StreamingOps.enrich(in.toDF(), dim)
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, ts(0), user = 1), ev(2, ts(1), user = 3))
      q.processAllAvailable()
      val rows = spark.table("enriched").select("event_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
      assert(rows == Map(1L -> Some("gold"), 2L -> None))
    } finally q.stop()
  }

  test("transformWithState builds a running per-user profile across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val q = StreamingOps.userProfiles(in.toDS())
        .writeStream.format("memory").queryName("profiles")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(ev(1, ts(0), user = 1, typ = "view"),
          ev(2, ts(1), user = 1, typ = "click"), ev(3, ts(1), user = 2, typ = "view"))
        q.processAllAvailable()
        in.addData(ev(4, ts(2), user = 1, typ = "view"),
          ev(5, ts(3), user = 1, typ = "purchase"))
        q.processAllAvailable()
        // latest Update row per user reflects state accumulated ACROSS batches
        val last = spark.table("profiles").groupBy("user_id")
          .agg(max(struct($"n_events", $"n_types")).as("s"))
          .select($"user_id", $"s.n_types", $"s.n_events")
          .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
        assert(last(1L) == (3, 4L), s"user 1: $last") // view, click, purchase; 4 events
        assert(last(2L) == (1, 1L))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** One upsert record per event, keyed by user. */
  private def toRecords(df: org.apache.spark.sql.DataFrame) = df.select(
    concat(lit("user_"), lpad(col("user_id").cast("string"), 6, "0")).as("key"),
    to_json(struct(col("event_type"), col("value"))).cast("binary").as("metadata"),
    array(struct(
      lit("state.json").as("file_name"), lit("application/json").as("content_type"),
      lit("").as("encoding"), to_json(struct(col("event_id"))).cast("binary").as("data")))
      .as("entries"))

  test("streaming upsert sink: last-writer-wins merge into a shardpack bucket") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-upsert").toString + "/bucket"
    val ckpt = Files.createTempDirectory("shardpack-upsert-ckpt").toString
    val in = MemoryStream[Event]
    val q = StreamingOps.upsertSink(toRecords(in.toDF()), dir, ckpt, compactEvery = 2)
    try {
      in.addData(ev(1, ts(0), user = 1, value = 1.0), ev(2, ts(1), user = 2, value = 2.0))
      q.processAllAvailable()
      assert(spark.read.format("shardpack").load(dir).count() == 2)
      // second epoch: update user 1, insert user 3 — and the in-stream
      // compaction folds the per-epoch small shards into one
      in.addData(ev(9, ts(2), user = 1, value = 9.0), ev(3, ts(2), user = 3, value = 3.0))
      q.processAllAvailable()
      val back = spark.read.format("shardpack").load(dir)
        .select($"key", get_json_object($"metadata".cast("string"), "$.value").cast("double").as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(back == Map("user_000001" -> 9.0, "user_000002" -> 2.0, "user_000003" -> 3.0))
      val shards = new java.io.File(dir).listFiles.map(_.getName)
        .filter(_.endsWith(".shardpack"))
      assert(shards.length == 1,
        s"compactEvery=2 should leave one merged shard, got ${shards.mkString(",")}")
    } finally q.stop()
  }

  test("streaming upsert sink: an empty micro-batch leaves the bucket and its sidecar as they are") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("shardpack-upsert-empty").toString + "/bucket"
    val ckpt = Files.createTempDirectory("shardpack-upsert-empty-ckpt").toString
    val in = MemoryStream[Event]
    // only positive values become records: a batch of the others is empty
    val q = StreamingOps.upsertSink(toRecords(in.toDF().filter($"value" > 0)), dir, ckpt)
    try {
      in.addData(ev(1, ts(0), user = 1, value = 1.0), ev(2, ts(1), user = 2, value = 2.0))
      q.processAllAvailable()
      ShardpackIndex.build(spark, dir)
      def listing() = new java.io.File(dir).listFiles.map(f => f.getName -> f.lastModified).toMap
      def index() = Files.readAllBytes(java.nio.file.Paths.get(dir, ShardpackIndex.FileName)).toSeq
      val (files, bytes) = (listing(), index())
      in.addData(ev(3, ts(2), user = 1, value = -1.0))
      q.processAllAvailable()
      assert(q.lastProgress.numInputRows == 1, "the empty micro-batch never ran")
      assert(listing() == files)
      assert(index() == bytes)
      assert(spark.read.format("shardpack").load(dir).count() == 2)
    } finally q.stop()
  }

  test("shardpack offset json round-trips under arbitrary path strings (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOf(Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const('"'), 1 -> Gen.const('\\'),
      1 -> Gen.const('/'), 1 -> Gen.const('é'),
      // control chars: the offset log is line-oriented, so these MUST be
      // \uXXXX-escaped by json() or the checkpoint line would split
      1 -> Gen.const('\n'), 1 -> Gen.const('\r'), 1 -> Gen.const('\t'),
      1 -> Gen.choose(0.toChar, 0x1f.toChar))).map(_.mkString))
    (0 until 200).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { files =>
        val off = graft.sources.shardpack.ShardpackOffset(files)
        val json = off.json()
        assert(!json.exists(_ < 0x20), s"seed=$i raw control char in offset json: $json")
        val back = graft.sources.shardpack.ShardpackOffset.fromJson(json)
        assert(back.files.sorted == files.sorted, s"seed=$i files=$files")
      }
    }
  }

  test("shardpack offset json round-trips (incl. escaping)") {
    val off = graft.sources.shardpack.ShardpackOffset(
      Seq("""/a/b/sh"ard.shardpack""", "/plain/s.shardpack", "/new\nline.shardpack"))
    val back = graft.sources.shardpack.ShardpackOffset.fromJson(off.json())
    assert(back.files.toSet == off.files.toSet)
    assert(graft.sources.shardpack.ShardpackOffset.fromJson("[]").files.isEmpty)
  }
}
