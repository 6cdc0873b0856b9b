package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules the library's sources keep. */
class SourceRulesSpec extends AnyFunSuite {
  private def sources: Seq[Path] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("no source runs work on the global execution context; concurrent legs use Overlap") {
    // global-pool threads do not carry the caller's job group, so
    // cancelling a stream would not cancel their jobs
    val offenders = sources.filter(p =>
      new String(Files.readAllBytes(p), "UTF-8").contains("ExecutionContext.Implicits.global"))
    assert(sources.nonEmpty)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("GraftSession is the one place a main builds its SparkSession") {
    // one builder keeps every main on the same local settings
    val builders = sources.filter(p =>
      new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder()"))
    assert(builders.map(_.getFileName.toString) === Seq("GraftSession.scala"))
  }
}
