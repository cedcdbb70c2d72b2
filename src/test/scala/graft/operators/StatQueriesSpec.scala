package graft.operators

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the statistics/sequence queries beyond the DuckDB hash gate:
  * the hand-rolled moment formulas must agree with Spark's native
  * estimators (they use different association orders, so agreement is
  * within float tolerance, not bit-exact — the hash gate covers bit
  * exactness of OUR formula, this covers its mathematical correctness),
  * and sessionization must partition events exactly.
  */
class StatQueriesSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("events meets the window rewrites' preconditions on every armed corpus") {
    // ts_ewma and win_rolling_median fold trailing frames of a window
    // ordered by (ts, event_id) per user: they assume no null value and
    // no two rows sharing (user_id, ts, event_id)
    val root = new java.io.File(sf).getParent
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val ev = graft.Tables.events(spark, s"$root/$scale")
      val nulls = ev.filter(col("value").isNull).count()
      val dupKeys = ev.groupBy("user_id", "ts", "event_id").count()
        .filter(col("count") > 1).count()
      assert(nulls == 0L && dupKeys == 0L,
        s"$scale: $nulls null values, $dupKeys duplicated (user_id, ts, event_id)")
    }
  }

  test("agg_corr matches Spark's native corr/covar/regr within 1e-6 relative") {
    val ours = run("agg_corr").collect()
      .map(r => r.getString(0) -> r).toMap
    val native = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("corr"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("covar_pop"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("covar_samp"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("slope"),
        regr_intercept(col("l_extendedprice"), col("l_quantity")).as("intercept"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(ours.keySet == native.keySet && ours.nonEmpty)
    for ((k, n) <- native; o = ours(k);
         c <- Seq("corr", "covar_pop", "covar_samp", "slope", "intercept")) {
      val (a, b) = (o.getAs[Double](c), n.getAs[Double](c))
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
        s"$k.$c: ours $a vs native $b")
    }
  }

  test("agg_moments matches Spark's native skewness/kurtosis within 1e-6") {
    val ours = run("agg_moments").collect().map(r => r.getString(0) -> r).toMap
    val native = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(skewness(col("l_quantity")).as("skew"), kurtosis(col("l_quantity")).as("kurt"),
        avg(col("l_quantity")).as("mean_qty"))
      .collect().map(r => r.getString(0) -> r).toMap
    for ((k, n) <- native; o = ours(k); c <- Seq("skew", "kurt", "mean_qty")) {
      val (a, b) = (o.getAs[Double](c), n.getAs[Double](c))
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
        s"$k.$c: ours $a vs native $b")
    }
  }

  test("sessionize partitions every event into exactly one session, gaps respected") {
    val sessions = run("sessionize").collect()
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(sessions.map(_.getAs[Long]("n_events")).sum == nEvents)
    // within a user, sessions are disjoint in time, ordered, and separated
    // by > 30 min (end of one to start of the next)
    sessions.groupBy(_.getLong(0)).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("sess"))
      sorted.foreach(s =>
        assert(!s.getAs[java.sql.Timestamp]("session_end")
          .before(s.getAs[java.sql.Timestamp]("session_start"))))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gapUs = (b.getAs[java.sql.Timestamp]("session_start").getTime -
            a.getAs[java.sql.Timestamp]("session_end").getTime) * 1000L
          assert(gapUs > 30L * 60 * 1000 * 1000,
            s"sessions ${a.getAs[Long]("sess")}/${b.getAs[Long]("sess")} gap $gapUs us")
        case _ =>
      }
    }
  }

  test("events_transitions counts sum to n_events - n_users_with_events") {
    val total = run("events_transitions").agg(sum("n")).collect()(0).getLong(0)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(total == expected)
  }

  test("ts_interpolate: observed hours keep their value; gaps lie between brackets") {
    val rows = run("ts_interpolate").collect()
    assert(rows.length == 3 * 30 * 24)
    // every interpolated value is within [min, max] of the user's observed
    // values — linear interpolation never extrapolates outside the hull
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val vs = rs.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
      if (vs.nonEmpty) {
        val (lo, hi) = (vs.min, vs.max)
        vs.foreach(v => assert(v >= lo - 1e-9 && v <= hi + 1e-9))
      }
    }
  }

  // quantile_cont at q=0.5 with the (N−1)·q convention, on the doubled
  // domain (so the result is integral for even and odd counts alike)
  private def medTimes2(vs: Seq[Long]): Double = {
    val sorted = vs.sorted.map(_ * 2L)
    sorted((vs.size - 1) / 2).toDouble * 0.5 + sorted(vs.size / 2).toDouble * 0.5
  }

  test("agg_mad histogram quantile is exactly the two-pass percentile on random multisets") {
    // The registered query computes both medians as weighted quantiles over
    // the (flag, q100, count) HISTOGRAM; this pins that shape to the direct
    // definition on adversarial group shapes the fixed tables can't cover:
    // size-1 groups, even/odd sizes, all-equal values, and two-point groups
    // where interpolation must land exactly between distinct values.
    val rnd = new scala.util.Random(20260815L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val shapes: Seq[(String, Seq[Double])] = Seq(
      "A" -> Seq.fill(1)(rnd.nextInt(200) / 4.0),             // singleton
      "B" -> Seq.fill(40)(rnd.nextInt(200) / 4.0),            // even n
      "C" -> Seq.fill(41)(rnd.nextInt(200) / 4.0),            // odd n
      "D" -> Seq.fill(17)(12.25),                             // all equal
      "E" -> (Seq.fill(8)(3.0) ++ Seq.fill(8)(44.75)),        // two-point, interp between
      "F" -> Seq.fill(137)(rnd.nextInt(8) / 4.0))             // heavy duplicates
    for ((f, qs) <- shapes; q <- qs) rows += ((f, q))
    val dir = java.nio.file.Files.createTempDirectory("madspec").toString
    spark.createDataFrame(rows.toSeq).toDF("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val got = SparkEntry.queries("agg_mad")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == shapes.map(_._1).toSet)
    for ((f, qs) <- shapes) {
      val q100 = qs.map(q => math.round(q * 100))
      val med2 = medTimes2(q100)
      val devs = q100.map(v => math.round(math.abs(v * 2 - med2))) // dv is integral: med2 is
      // quantile_cont(devs, .5) = medTimes2(devs)/2, and mad_cents halves it
      val madCents = medTimes2(devs) / 4.0
      val r = got(f)
      assert(r.getAs[Double]("median_cents") == med2 / 2.0, s"$f median")
      assert(r.getAs[Double]("mad_cents") == madCents, s"$f mad")
      assert(r.getAs[Long]("cnt") == qs.size.toLong, s"$f cnt")
    }
  }

  test("stream_dedup min(struct) picks exactly the ROW_NUMBER()=1 row per key") {
    // Random events with many key collisions, written as an events table;
    // the registered min(struct(event_id, value)) aggregate must be
    // row-identical to the window formulation it replaced.
    val rnd = new scala.util.Random(42L)
    val ev = (1 to 500).map { i =>
      (i.toLong, rnd.nextInt(7).toLong, s"t${rnd.nextInt(5)}",
        rnd.nextInt(1000) / 100.0,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L))
    }
    val dir = java.nio.file.Files.createTempDirectory("dedupspec").toString
    spark.createDataFrame(ev).toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = SparkEntry.queries("stream_dedup")(spark, dir).collect()
    val byWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
      spark.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type").collect()
    }
    assert(got.length == byWindow.length)
    got.zip(byWindow).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }
}
