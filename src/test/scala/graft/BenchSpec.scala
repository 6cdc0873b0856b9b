package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {
  test("a throwing entry gets no time and is listed as failed, outside total and slowest") {
    val entries = Seq[(String, () => Any)]("ok" -> (() => 1),
      "boom" -> (() => throw new IllegalStateException("boom")))
    val timed = entries.map { case (n, run) => n -> Bench.timeShot(run()) }
    assert(timed.toMap.apply("boom").isEmpty)
    val ok = timed.collect { case (n, Some(t)) => n -> t }
    val failed = timed.collect { case (n, None) => n }
    val line = new ObjectMapper().readTree(Bench.compactLine(ok, failed, "null", "sf"))
    assert(line.get("failed").elements.asScala.map(_.asText).toSeq === Seq("boom"))
    assert(line.get("n_queries").asInt === 1)
    assert(line.get("value").asDouble === ok.head._2)
    assert(line.get("slowest").fieldNames.asScala.toSeq === Seq("ok"))
  }

  /** How a reader that keeps only the tail of Bench's output recovers the
    * result: the last 2000 characters, then the last line that parses
    * whole as a JSON object. */
  private def recovered(output: String) = {
    val mapper = new ObjectMapper()
    output.takeRight(2000).split("\n").reverseIterator.map(_.trim)
      .filter(l => l.startsWith("{") && l.endsWith("}"))
      .flatMap(l => scala.util.Try(mapper.readTree(l)).toOption)
      .nextOption()
  }

  test("the compact line is recovered from the output's last 2000 characters, with 378 entries or 378 failures") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size === 378)
    def output(results: Seq[(String, Double)], failed: Seq[String]): String = {
      val noise = (1 to 200).map(i => s"26/10/19 03:30:02 INFO Executor: Finished task $i.0")
      val rich = s"""{"metric":"total","queries":${results.map { case (n, t) => s""""$n":$t""" }
        .mkString("{", ",", "}")},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
      (noise :+ rich :+ Bench.compactLine(results, failed, "1.023", "/data/sf0.1") :+
        "[success] Total time: 1234 s (20:34), completed Oct 19, 2026, 3:50:36 AM")
        .mkString("", "\n", "\n")
    }
    val ran = recovered(output(names.zipWithIndex.map { case (n, i) => n -> (0.5 + i / 7.0) }, Nil))
    assert(ran.map(_.get("n_queries").asInt) === Some(378))
    assert(ran.map(_.get("n_failed").asInt) === Some(0))
    assert(ran.map(_.get("slowest").size) === Some(25))
    val broke = recovered(output(Nil, names))
    assert(broke.map(_.get("n_queries").asInt) === Some(0))
    assert(broke.map(_.get("n_failed").asInt) === Some(378))
    assert(broke.map(_.get("failed").elements.asScala.map(_.asText).toSeq) === Some(names.take(5)))
  }
}
