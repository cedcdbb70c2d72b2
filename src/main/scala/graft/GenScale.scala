package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scala port of `scripts/gen_sf1.py`: synthesize a larger-SF dataset by
  * R× replication of a source SF dir with re-keyed replicas, so the armed
  * sf1 shuffle-budget section can never be silently skipped — [[Bench]]
  * auto-generates the scale dir when it is absent, with no dependency on
  * the driver-side python/duckdb toolchain.
  *
  * Replication rules (replica r in 0..R-1; r=0 is the ORIGINAL rows, so
  * every literal key / search term a registered query depends on still
  * exists):
  *   - region/nation: fixed-size dimensions, copied as-is (as in TPC-H).
  *   - customer/supplier/part/orders/lineitem: keys offset by r*(max+1)
  *     with referential integrity preserved (o_custkey follows customer's
  *     offset; lineitem's l_orderkey/l_partkey/l_suppkey follow parents).
  *   - events: event_id/user_id offset; ts/value/props unchanged (replicas
  *     overlay in time → R× window density, the realistic scale-up shape).
  *   - documents: every whitespace token of replicas r>0 gets an "r<r>"
  *     suffix. This keeps each shingle's document frequency FLAT while the
  *     corpus grows R× (pair blowup stays ~R, realistic for a bigger
  *     crawl) instead of the R² sum(df²) explosion plain replication would
  *     cause; near-dup structure is preserved WITHIN each replica (both
  *     docs of a pair get the same suffix). n_chars is recomputed.
  *   - embeddings: vector rotated left by r positions (deterministic,
  *     unit norm preserved, per-replica cosine structure distinct);
  *     vec_id offset.
  *
  * Layout matches the python generator: ONE parquet FILE per table at
  * `dst/<name>.parquet` (coalesce(1) + rename of the part file), so the
  * DuckDB oracle in `scripts/check.py` reads the dir with the same
  * single-file paths it uses for the driver's testdata.
  */
object GenScale {

  /** Replica key stride = max(key)+1 derived from the SOURCE, not a
    * hardcoded sf0.1 size — any src dir replicates without collisions.
    */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key)).cast(LongType)).head().getLong(0) + 1L

  /** Cross-join with the replica index r (0..replicas-1). */
  private def withR(df: DataFrame, spark: SparkSession, replicas: Int): DataFrame =
    df.crossJoin(spark.range(replicas).toDF("r"))

  def replicate(spark: SparkSession, src: String, dst: String, replicas: Int): Unit = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    // preserve µs timestamps on write (NTZ columns are µs regardless); the
    // source dirs carry timestamp[us], and Tables.events normalizes reads
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    Files.createDirectories(Paths.get(dst))
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")

    val oCust = stride(read("customer"), "c_custkey")
    val oSupp = stride(read("supplier"), "s_suppkey")
    val oPart = stride(read("part"), "p_partkey")
    val oOrd  = stride(read("orders"), "o_orderkey")
    val oEvt  = stride(read("events"), "event_id")
    val oUser = stride(read("events"), "user_id")
    val oDoc  = stride(read("documents"), "doc_id")
    val oVec  = stride(read("embeddings"), "vec_id")

    def offset(c: String, o: Long) = (col(c) + col("r") * lit(o)).as(c)

    write(dst, "region", read("region"))
    write(dst, "nation", read("nation"))
    write(dst, "customer", withR(read("customer"), spark, replicas)
      .select(offset("c_custkey", oCust), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")))
    write(dst, "supplier", withR(read("supplier"), spark, replicas)
      .select(offset("s_suppkey", oSupp), col("s_name"), col("s_nationkey"),
        col("s_acctbal")))
    write(dst, "part", withR(read("part"), spark, replicas)
      .select(offset("p_partkey", oPart), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")))
    write(dst, "orders", withR(read("orders"), spark, replicas)
      .select(offset("o_orderkey", oOrd), offset("o_custkey", oCust),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    write(dst, "lineitem", withR(read("lineitem"), spark, replicas)
      .select(offset("l_orderkey", oOrd), offset("l_partkey", oPart),
        offset("l_suppkey", oSupp), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    write(dst, "events", withR(read("events"), spark, replicas)
      .select(offset("event_id", oEvt), col("ts"), offset("user_id", oUser),
        col("event_type"), col("value"), col("props")))

    // token-suffix rewrite: "$1r" + r — group 1 then LITERAL 'r<digits>'
    // (java.util.regex stops group parsing at the first non-digit, same
    // reading as RE2's '\1r' || r in the python generator)
    val suffixed = regexp_replace(col("text"), lit("(\\S+)"),
      concat(lit("$1r"), col("r").cast("string")))
    write(dst, "documents", withR(read("documents"), spark, replicas)
      .select(offset("doc_id", oDoc),
        when(col("r") === 0, col("text")).otherwise(suffixed).as("text"),
        col("lang"), col("source"),
        when(col("r") === 0, col("n_chars"))
          .otherwise(length(suffixed).cast(LongType)).as("n_chars")))

    // rotate left by r: elements r+1..n then 1..r (1-based, as DuckDB's
    // list_concat(embedding[r+1:], embedding[1:r]))
    val rot = concat(
      slice(col("embedding"), col("r").cast("int") + lit(1),
        size(col("embedding")) - col("r").cast("int")),
      slice(col("embedding"), lit(1), col("r").cast("int")))
    write(dst, "embeddings", withR(read("embeddings"), spark, replicas)
      .select(offset("vec_id", oVec),
        when(col("r") === 0, col("embedding")).otherwise(rot).as("embedding"),
        col("label")))
  }

  /** Write `df` as the single FILE `dst/<name>.parquet` (python-generator
    * layout): coalesce(1) into a scratch dir, move the part file, clean up.
    * Single-threaded write is fine at these volumes (~6M lineitem rows at
    * sf1); the BENCH reads fan back out via parquet row groups.
    */
  private def write(dst: String, name: String, df: DataFrame): Unit = {
    val scratch = Paths.get(dst, s".$name.tmp")
    deleteRecursively(scratch)
    df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).filter(p =>
      p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).findFirst()
      .orElseThrow(() => new IllegalStateException(s"no part file under $scratch"))
    Files.move(part, Paths.get(dst, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(scratch)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }

  /** Standalone entry: `GenScale [src] [dst] [replicas]`. */
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "testdata-sf1"
    val replicas = if (args.length > 2) args(2).toInt
      else sys.env.getOrElse("GEN_REPLICAS", "10").toInt
    val spark = GraftSession.local()
    try replicate(spark, src, dst, replicas)
    finally spark.stop()
    println(s"[GenScale] $src x$replicas -> $dst")
  }
}
