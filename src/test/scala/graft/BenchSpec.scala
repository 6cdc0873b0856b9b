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
}
