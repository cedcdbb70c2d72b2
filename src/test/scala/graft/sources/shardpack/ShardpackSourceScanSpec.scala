package graft.sources.shardpack

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans pinning Layer 1's single decision points: one footer read
  * of a stored shard, and one envelope test behind both shard readers.
  */
class ShardpackSourceScanSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** Text of the top-level definition that `decl` opens, up to the next
    * one that starts in column 0.
    */
  private def definition(src: String, decl: String): String = {
    val start = src.indexOf(decl)
    assert(start >= 0, s"$decl not found")
    val next = """\n(final |private|object |class |trait |/\*\*)""".r
      .findFirstMatchIn(src.substring(start + decl.length))
    src.substring(start, next.fold(src.length)(start + decl.length + _.start))
  }

  test("ShardpackFormat.readFooter( has exactly one caller in main: the footer helper") {
    val hits = mainSources.flatMap { p =>
      "ShardpackFormat\\.readFooter\\(".r.findAllIn(Files.readString(p))
        .map(_ => p.getFileName.toString)
    }
    assert(hits == Seq("ShardpackIndex.scala"), s"readFooter call sites: $hits")
    val index = Files.readString(Paths.get(
      "src/main/scala/graft/sources/shardpack/ShardpackIndex.scala"))
    assert(definition(index, "private[shardpack] def footer(")
      .contains("ShardpackFormat.readFooter("))
  }

  test("both shard readers prune through ShardStats.mayContain, via the one ShardSlice") {
    val src = Files.readString(Paths.get(
      "src/main/scala/graft/sources/shardpack/ShardpackDataSource.scala"))
    assert(definition(src, "final class ShardSlice(").contains("ShardStats.mayContain("))
    Seq("final class ShardpackPartitionReader(", "final class ShardpackColumnarReader(")
      .foreach(r => assert(definition(src, r).contains("slice: ShardSlice"), r))
  }

  test("the driver read goes through the batch reader factory, ShardSlice and ShardpackPartitionReader") {
    val src = Files.readString(Paths.get(
      "src/main/scala/graft/sources/shardpack/ShardpackDataSource.scala"))
    val local = definition(src, "final class ShardpackLocalScan(")
    assert(local.contains("batch.createReaderFactory()"))
    assert(local.contains("reader: ShardpackPartitionReader ="))
    assert(!local.contains("decodeRecord"), "the driver read must not decode records itself")
    val factory = definition(src, "final case class ShardpackReaderFactory(")
    assert(factory.contains("new ShardSlice("))
    assert(factory.contains("createReader(p: InputPartition): ShardpackPartitionReader"))
    assert(factory.contains("new ShardpackPartitionReader(slice(p)"))
  }
}
