package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SparkSession.builder occurs exactly once in main, in GraftSession") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p: Path =>
        "SparkSession\\.builder".r.findAllIn(Files.readString(p)).map(_ => p.getFileName.toString)
      }
    assert(hits == Seq("GraftSession.scala"), s"builder call sites: $hits")
  }

  test("the factory's confs are the bench confs") {
    assert(GraftSession.confs(7).toMap == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.files.openCostInBytes" -> "131072",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.cteRecursionRowLimit" -> "100000000"))
  }

  test("SPARK_GRAFT_CPUS: unset is 32, a positive integer is used, anything else throws") {
    assert(GraftSession.cpus(None) == 32)
    assert(GraftSession.cpus(Some("4")) == 4)
    Seq("0", "x", "", "-4", " 4", "4.0", "99999999999").foreach { v =>
      intercept[IllegalArgumentException](GraftSession.cpus(Some(v)))
    }
  }
}
