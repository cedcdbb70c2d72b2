package graft.sources.shardpack

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic key→bucket assignment shared by the WRITE path (task
  * writers roll one shard per bucket) and Spark's shuffle/report machinery
  * (via [[BucketBound]], the V2 function the catalog exposes). A stable
  * byte-polynomial — NOT `String.hashCode` — so the layout is portable
  * across JVMs and documented by the format, like the spec's shard naming
  * (`/root/reference/docs/draft.md:23-30`).
  */
object BucketKey {
  def bucketOf(key: UTF8String, n: Int): Int = {
    val b = key.getBytes
    var h = 0
    var i = 0
    while (i < b.length) { h = h * 31 + (b(i) & 0xff); i += 1 }
    ((h % n) + n) % n
  }
}

/** `bucket(n, key)` as a Spark V2 catalog function — what makes
  * storage-partitioned joins possible: both sides of a join over two
  * bucketed shardpack tables report `KeyGroupedPartitioning(bucket(n,key))`
  * backed by THIS function (same `canonicalName`), so Spark plans the join
  * with zero shuffle exchanges.
  */
object BucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): shardpack deterministic key bucketing"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(n, key) takes 2 arguments, got ${inputType.fields.length}")
    BucketBound
  }
}

object BucketBound extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.shardpack.bucket"
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    BucketKey.bucketOf(input.getUTF8String(1), input.getInt(0))
}

/** A real `TableCatalog` + `FunctionCatalog` over a directory tree of
  * shardpack buckets: `spark.sql.catalog.spk = …ShardpackCatalog`,
  * `spark.sql.catalog.spk.root = /data` maps `spk.ns.t` → `/data/ns/t`.
  *
  * Tables may declare `PARTITIONED BY (bucket(N, key))`; the bucket count is
  * persisted in a `_table.json` sidecar and drives (a) clustered+ordered
  * writes that produce one shard file per bucket per task, and (b)
  * `KeyGroupedPartitioning` reporting on scans — together enabling
  * storage-partitioned joins (no shuffle on either side) between tables
  * bucketed the same way, with `spark.sql.sources.v2.bucketing.enabled`.
  */
class ShardpackCatalog extends TableCatalog with FunctionCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = new Path(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root")))
  }

  override def name(): String = catalogName

  private def fs = root.getFileSystem(HadoopConfs.session())

  private def dirFor(ident: Identifier): Path =
    (ident.namespace() :+ ident.name()).foldLeft(root)(new Path(_, _))

  // ── stored procedures: SQL-first maintenance (Iceberg-style CALL) ──
  //   CALL <cat>.system.build_index('ns.tbl')   → shards_indexed
  //   CALL <cat>.system.compact('ns.tbl', 0.5)  → shards_compacted
  //   CALL <cat>.system.expire_range('ns.tbl', lo, hi)
  //   CALL <cat>.system.vacuum('ns.tbl', 24.0)  → temps_removed
  //   CALL <cat>.system.stats('ns.tbl')         → table metadata profile
  // The ops themselves are ShardpackIndex/ShardpackOps; the procedure layer
  // just resolves the table ident to its directory, so every maintenance
  // op is reachable from pure SQL with no Scala in sight.

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}

  private def tableDir(spec: String): String = {
    val parts = spec.split("\\.").toSeq
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val dir = dirFor(ident)
    if (!fs.exists(dir)) throw new NoSuchTableException(ident)
    dir.toString
  }

  private def oneRowScan(schema: StructType, values: Array[Any]): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = Array(new GenericInternalRow(values))
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }

  private abstract class Proc(procName: String,
      params: Seq[(String, DataType)]) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
    override def isDeterministic: Boolean = false // mutates storage
  }

  private lazy val procedures: Map[String, Proc] = Map(
    "build_index" -> new Proc("build_index", Seq("table" -> StringType)) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val n = ShardpackIndex.build(
          org.apache.spark.sql.SparkSession.active, tableDir(input.getUTF8String(0).toString))
        oneRowScan(StructType(Seq(StructField("shards_indexed", IntegerType))), Array(n))
      }
    },
    "compact" -> new Proc("compact",
        Seq("table" -> StringType, "min_fill" -> DoubleType)) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val n = ShardpackOps.compact(
          org.apache.spark.sql.SparkSession.active,
          tableDir(input.getUTF8String(0).toString), minFill = input.getDouble(1))
        oneRowScan(StructType(Seq(StructField("shards_compacted", IntegerType))), Array(n))
      }
    },
    "stats" -> new Proc("stats", Seq("table" -> StringType)) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val dir = new Path(tableDir(input.getUTF8String(0).toString))
        val s = ShardpackIndex.stats(fs, dir, ShardpackDataSource.listShards(fs, dir))
        oneRowScan(
          StructType(Seq(
            StructField("n_shards", IntegerType),
            StructField("n_records", LongType),
            StructField("total_bytes", LongType),
            StructField("min_key", StringType),
            StructField("max_key", StringType),
            StructField("indexed", BooleanType))),
          Array(s.shards, s.records, s.bytes, s.minKey.map(UTF8String.fromString).orNull,
            s.maxKey.map(UTF8String.fromString).orNull, s.indexed))
      }
    },
    "vacuum" -> new Proc("vacuum",
        Seq("table" -> StringType, "older_than_hours" -> DoubleType)) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val n = ShardpackOps.vacuum(
          tableDir(input.getUTF8String(0).toString),
          (input.getDouble(1) * 3600 * 1000).toLong)
        oneRowScan(StructType(Seq(StructField("temps_removed", IntegerType))), Array(n))
      }
    },
    "expire_range" -> new Proc("expire_range",
        Seq("table" -> StringType, "lo" -> StringType, "hi" -> StringType)) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        ShardpackOps.deleteRange(
          org.apache.spark.sql.SparkSession.active,
          tableDir(input.getUTF8String(0).toString),
          input.getUTF8String(1).toString, input.getUTF8String(2).toString)
        oneRowScan(StructType(Seq(StructField("done", BooleanType))), Array(true))
      }
    })

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val ok = ident.namespace().toSeq == Seq("system")
    procedures.get(ident.name()).filter(_ => ok).getOrElse(
      throw new RuntimeException(s"no such procedure: $ident"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      procedures.keys.toArray.sorted.map(n => Identifier.of(Array("system"), n))
    else Array.empty

  private def metaFile(dir: Path): Path = new Path(dir, "_table.json")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(nsDir)) Array.empty
    else fs.listStatus(nsDir).filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident)
    if (!fs.exists(dir)) throw new NoSuchTableException(ident)
    new ShardpackTable(dir.toString, readBuckets(dir))
  }

  private def readBuckets(dir: Path): Option[Int] = {
    val mf = metaFile(dir)
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      val body = try {
        val buf = new Array[Byte](fs.getFileStatus(mf).getLen.toInt)
        in.readFully(buf); new String(buf, "UTF-8")
      } finally in.close()
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val dir = dirFor(ident)
    if (fs.exists(dir)) throw new TableAlreadyExistsException(ident)
    val buckets = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name() == "bucket" =>
        val n = t.arguments().collectFirst {
          case l: Literal[_] => l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          "bucket transform requires a literal bucket count"))
        val cols = t.references().flatMap(_.fieldNames())
        require(cols.sameElements(Array("key")),
          s"shardpack supports bucketing by 'key' only, got ${cols.mkString(",")}")
        Some(n)
      case other => throw new IllegalArgumentException(
        s"shardpack supports PARTITIONED BY (bucket(N, key)) only, got ${other.mkString(",")}")
    }
    // declared schema must be column-compatible with the fixed format schema
    val declared = schema.fieldNames.map(_.toLowerCase).toSet
    require(declared.subsetOf(Set("key", "metadata", "entries")),
      s"shardpack schema is fixed (key, metadata, entries); got ${schema.fieldNames.mkString(",")}")
    fs.mkdirs(dir)
    buckets.foreach { n =>
      val out = fs.create(metaFile(dir), false)
      try out.write(s"""{"buckets": $n}""".getBytes("UTF-8")) finally out.close()
    }
    new ShardpackTable(dir.toString, buckets)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("shardpack tables have a fixed schema")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = dirFor(oldIdent)
    if (!fs.exists(src)) throw new NoSuchTableException(oldIdent)
    val dst = dirFor(newIdent)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  // ── FunctionCatalog: just the bucket transform function ──
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}
