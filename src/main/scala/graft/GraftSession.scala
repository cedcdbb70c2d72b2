package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every main (Bench, Verify, PlanAudit, Ab,
  * GenScale, FormatBench, DedupBench, the shardpack CLI), so a plan
  * audited or A/B'd is the plan Bench runs. Test suites keep their own
  * local[4] session (`SparkTestSession`): SHUFFLE_BUDGET.json's
  * `sf0.01@test` section and PLANS.json's `sf0.01` section are recorded
  * under it.
  *
  * These are SESSION-level decisions deliberately kept out of query
  * handlers: a handler that mutates shared session conf either leaks the
  * change to every later query (disabling guards it never meant to touch)
  * or — if it restores in a try/finally — silently loses the setting
  * before the lazily-executed frame ever runs, because Spark reads most
  * execution confs at execute time, not plan time.
  */
object GraftSession {
  /** Recursion valve for `sql_recursive` (UnionLoop). Spark's default
    * 1M-row guard is a runaway valve, not a semantic bound; the sf10 gate
    * walks 2M parts. 100M keeps the valve finite while clearing every
    * registered scale (the walk is one row per part, so this covers
    * ~sf500 before tripping).
    */
  val RecursionRowLimit: String = "100000000"
  val RecursionRowLimitKey: String = "spark.sql.cteRecursionRowLimit"

  /** SPARK_GRAFT_CPUS: unset means 32, a positive integer is used as
    * given. Anything else fails before a session starts — a typo must not
    * silently pick the parallelism every number is measured at.
    */
  def cpus(v: Option[String]): Int = v match {
    case None => 32
    case Some(s) if s.matches("[1-9][0-9]{0,8}") => s.toInt
    case Some(other) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$other'")
  }

  /** The bench confs for a local[cpus] session. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // scan-split sizing for local[32] over single-file tables: the split
    // is min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism)),
    // so the 4 MiB default open cost leaves a <128 MiB single-file scan
    // in 1-2 partitions and every map-only kernel (the image/video codec
    // round-trips especially) nearly serial. 128 KiB reflects local-FS
    // open cost and spreads any >4 MiB file across the cores; on a real
    // cluster the input arrives as many files and this knob is moot.
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    RecursionRowLimitKey -> RecursionRowLimit)

  /** local[SPARK_GRAFT_CPUS] with [[confs]]; `master` overrides only the
    * master URL (the shardpack CLI's cluster deployment).
    */
  def local(master: Option[String] = None): SparkSession = {
    val n = cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = confs(n)
      .foldLeft(SparkSession.builder().master(master.getOrElse(s"local[$n]"))) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
