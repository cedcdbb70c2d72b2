package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator query: a Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL run by the driver at
  * sf0.01. `oracle == None` → the driver records a weaker rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))
}
