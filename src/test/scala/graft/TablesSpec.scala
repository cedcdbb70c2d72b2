package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.events` must surface `ts` as TimestampType (µs, UTC) no matter
  * how the parquet writer declared it — the three shapes in the wild:
  * timestamp[ns] (the driver's generator; Spark reads it as LongType under
  * legacy nanosAsLong), timestamp[µs] adjusted-to-UTC (Spark's own writer),
  * and timestamp[µs] WITHOUT isAdjustedToUTC (DuckDB COPY, pandas, most
  * non-Spark ETL → Spark reads TIMESTAMP_NTZ). The NTZ case broke five
  * event queries at the sf1 gate before the normalization existed.
  *
  * `Tables.t` infers each table's schema once per (session, dir): later
  * reads run no job and still behave as a bare `spark.read.parquet`.
  */
class TablesSpec extends AnyFunSuite with SparkTestBase {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"
  private val AllTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  test("events normalizes TIMESTAMP_NTZ parquet to TimestampType, instant-preserving") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ntz-events").toString
    val micros = 1704067200000000L + 123456L // 2024-01-01 00:00:00.123456 UTC
    spark.range(3).select(
        $"id".as("event_id"),
        timestamp_micros(lit(micros) + $"id").cast(TimestampNTZType).as("ts"),
        $"id".as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.orderBy($"event_id")
      .select(unix_micros($"ts")).as[Long].collect().toSeq
    assert(got === Seq(micros, micros + 1, micros + 2))
  }

  test("events normalizes timestamp[ns] parquet to TimestampType, truncated to µs, on every call") {
    import spark.implicits._
    // Spark writes no nanosecond timestamps, so write the file with parquet-mr
    val dir = Files.createTempDirectory("ns-events").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val file = HadoopOutputFile.fromPath(
      new HPath(s"$dir/events.parquet/part-0.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    val nanos = 1704067200123456789L // 2024-01-01 00:00:00.123456789 UTC
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", nanos + i * 1000L)))
    finally w.close()
    // the first call infers the schema, the second reads with the cached one
    (1 to 2).foreach { _ =>
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      val got = ev.orderBy($"event_id").select(unix_micros($"ts")).as[Long].collect().toSeq
      assert(got === Seq(0L, 1L, 2L).map(nanos / 1000 + _))
    }
  }

  test("after one warm-up call, building sql_q5 runs no job; bare reads of its tables run one each") {
    val q5 = SparkEntry.queries("sql_q5")
    q5(spark, sf001)
    val (_, jobs) = jobsDuring(q5(spark, sf001))
    assert(jobs == 0, s"$jobs job(s) building sql_q5 on a warm session")
    // what every build paid before the schemas were kept: one inference
    // job per table it opens
    val q5Tables = Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
    val (_, bare) = jobsDuring(q5Tables.foreach(n => spark.read.parquet(s"$sf001/$n.parquet")))
    assert(bare == q5Tables.size)
  }

  test("two reads of one table are two relations: a self-join resolves as over bare reads") {
    val a = Tables.orders(spark, sf001)
    val b = Tables.orders(spark, sf001)
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "two Tables.orders share attribute ids")
    def pairs(x: DataFrame, y: DataFrame): Seq[Row] =
      x.join(y, x("o_custkey") === y("o_custkey") && x("o_orderkey") < y("o_orderkey"))
        .select(x("o_orderkey"), y("o_orderkey"))
        .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    val bare = () => spark.read.parquet(s"$sf001/orders.parquet")
    val got = pairs(a, b)
    assert(got.nonEmpty)
    assert(got == pairs(bare(), bare()))
  }

  test("every sf0.01 table's cached schema is the schema a fresh read infers") {
    // Tables.events sets the conf under which the events file is read
    Tables.events(spark, sf01)
    AllTables.foreach { n =>
      Tables.t(spark, sf01, n)
      assert(Tables.t(spark, sf01, n).schema == spark.read.parquet(s"$sf01/$n.parquet").schema, n)
    }
  }

  test("read.parquet( in main occurs only in Tables.t and three reads outside table dirs") {
    val call = "read\\s*\\.\\s*parquet\\(".r
    val definition = "def\\s+(\\w+)".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p: Path =>
        val src = Files.readString(p)
        call.findAllMatchIn(src).map { m =>
          p.getFileName.toString ->
            definition.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq.last
        }
      }
    // GenScale reads its source dir to write a new one; checkpointTo and
    // readProbed read back a dir the program has just written, so a
    // schema kept from an earlier generation would be wrong there
    assert(hits.sorted == Seq("CurationPipeline.scala" -> "checkpointTo",
      "GenScale.scala" -> "read", "Tables.scala" -> "t",
      "VectorIndex.scala" -> "readProbed"), s"read.parquet call sites: $hits")
  }
}
