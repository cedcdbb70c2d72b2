package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + determinism helpers shared by every query in
  * [[SparkEntry.queries]].
  *
  * Determinism conventions (SURVEY.md §2B): every oracle-hashed query ends in
  * a total ORDER BY on a unique key; double aggregations go through exact
  * DECIMAL arithmetic and are cast back to DOUBLE at the end so Spark and the
  * DuckDB oracle see bit-identical IEEE754 results regardless of partial-agg
  * association order; session timezone is UTC (build.sbt javaOptions).
  */
object Tables {

  /** Per (session, dir): each table's schema, inferred by the first
    * [[t]] that opens it.
    */
  private val schemas = Memo.value("table_schemas") { (_, _) =>
    new ConcurrentHashMap[String, StructType]()
  }

  /** Read one driver table (TESTDATA.md: region nation customer supplier part
    * orders lineitem events documents embeddings).
    *
    * The schema is inferred once per (session, dir, table): the first call
    * runs Spark's Parquet schema inference (one footer-read job), every
    * later call reads with that schema and runs no job. The file is still
    * listed on every call, and every call is its own relation with fresh
    * attribute ids, so self-joins and temp views behave as with a bare
    * `spark.read.parquet`. Sound because a dir is an immutable table set
    * ([[Memo]]). A dir the program writes and then reads back
    * (`CurationPipeline.checkpointTo`, `VectorIndex.readProbed`) is not a
    * table dir and is read uncached at its own call site.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas(spark, dir)
      .computeIfAbsent(name, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` is parquet timestamp[ns]; Spark's vectorized reader may
    * surface TIMESTAMP(NANOS) as LongType (legacy nanosAsLong) or not at all.
    * Normalize to TimestampType (microseconds, truncated — matching DuckDB
    * 1.0's ns→µs truncation on read) so both engines see identical values.
    * The conf is set before [[t]], so the table's one schema inference runs
    * under it.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // ns since epoch → µs truncation (all test data is post-1970).
        // Integer `div`, NOT `/`: double division loses precision at e18.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // parquet written without isAdjustedToUTC (e.g. DuckDB COPY, many
        // ETL tools) surfaces as TIMESTAMP_NTZ; with the session timezone
        // pinned to UTC the cast is instant-preserving and matches how
        // DuckDB reads the same file (naive timestamp)
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** Exact decimal image of a money/quantity column that was generated with
    * `scale` decimal digits. The true value is exactly representable at this
    * scale, so Spark's and DuckDB's double→decimal casts agree.
    */
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Deterministic SUM of a 2-decimal double column: sum exactly in decimal
    * space, surface as DOUBLE. Oracle side:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = 2): Column = sum(dec(c, scale)).cast(DoubleType)

  /** Deterministic AVG: exact decimal sum cast to double, divided by count —
    * one double division, identical in both engines. Oracle:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast(DoubleType) / count(c)
}
