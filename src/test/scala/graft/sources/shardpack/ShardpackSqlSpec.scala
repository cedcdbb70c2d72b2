package graft.sources.shardpack

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pure-SQL surface over the format: DDL (`CREATE TABLE … USING shardpack`),
  * DML (`INSERT INTO`) and queries run through the session catalog with no
  * DataFrame code — the format behaves as a first-class SQL table provider.
  */
class ShardpackSqlSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("shardpack-sql").toString

  test("CREATE TABLE / INSERT INTO / SELECT round-trip through pure SQL") {
    val dir = tmpDir()
    spark.sql("DROP TABLE IF EXISTS sp_sql_t")
    spark.sql(
      s"""CREATE TABLE sp_sql_t (
         |  key STRING NOT NULL,
         |  metadata BINARY,
         |  entries ARRAY<STRUCT<file_name: STRING, content_type: STRING,
         |                       encoding: STRING, data: BINARY>> NOT NULL)
         |USING shardpack LOCATION '$dir'""".stripMargin)
    spark.sql(
      """INSERT INTO sp_sql_t VALUES
        |('k1', NULL, array(named_struct(
        |   'file_name', 'body.txt', 'content_type', 'text/plain',
        |   'encoding', '', 'data', encode('hello', 'UTF-8')))),
        |('k2', NULL, array(named_struct(
        |   'file_name', 'body.txt', 'content_type', 'text/plain',
        |   'encoding', '', 'data', encode('world', 'UTF-8'))))""".stripMargin)
    val rows = spark.sql(
      """SELECT key, decode(entries[0].data, 'UTF-8') AS body
        |FROM sp_sql_t ORDER BY key""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("k1", "hello"), ("k2", "world")))
    // the SQL table is the same bytes the DataFrame reader sees
    val direct = spark.read.format("shardpack").load(dir)
      .select("key").collect().map(_.getString(0)).sorted
    assert(direct.toSeq == Seq("k1", "k2"))
    spark.sql("DROP TABLE sp_sql_t")
  }
}
