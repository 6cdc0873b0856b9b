package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.streaming.Trigger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

class BenchSpec extends SparkSpec {
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

  test("an entry gets at most one re-shot, runs counts the shots taken, and a throwing re-shot fails the entry") {
    // each entry's scripted shots, in order; a None is a shot that threw
    val script = Map(
      "slow_then_fast" -> Seq(Some(3.0), Some(1.0), None),
      "fast" -> Seq(Some(0.5), Some(0.1)),
      "over_floor" -> Seq(Some(0.9), Some(0.8)),
      "under_min_floor" -> Seq(Some(0.9), Some(0.1)),
      "reshot_throws" -> Seq(Some(2.5), None),
      "first_throws" -> Seq(None, Some(0.1)))
    val floors = Map(
      "fast" -> Bench.Floor(0.4, None),
      "over_floor" -> Bench.Floor(0.4, None),
      "under_min_floor" -> Bench.Floor(0.2, None))
    val taken = mutable.ArrayBuffer.empty[(String, Boolean)]
    var resets = 0
    val measured = Bench.measure(script.keys.toSeq.sorted, floors,
      (n, first) => { taken += n -> first; script(n)(taken.count(_._1 == n) - 1) },
      () => { resets += 1; assert(taken.forall(_._2), "the reset runs before every re-shot") }).toMap
    assert(resets === 1)
    assert(taken.groupBy(_._1).values.forall(_.size <= 2))
    assert(measured.map { case (n, m) => n -> m.runs } === taken.groupBy(_._1).map { case (n, s) => n -> s.size })
    assert(measured("slow_then_fast") === Bench.Measured(Some(1.0), 2))
    assert(measured("fast") === Bench.Measured(Some(0.5), 1))
    assert(measured("over_floor") === Bench.Measured(Some(0.8), 2))
    assert(measured("under_min_floor") === Bench.Measured(Some(0.9), 1))
    assert(measured("reshot_throws") === Bench.Measured(None, 2))
    assert(measured("first_throws") === Bench.Measured(None, 1))
    assert(measured.collect { case (n, Bench.Measured(None, _)) => n }.toSet === Set("reshot_throws", "first_throws"))
  }

  test("prior floors gate a run only when both _sf and _cpus match") {
    val body = """{"_sf": "/data/sf0.1", "_cpus": 32, "_total_secs": 9.0,
      "a": {"min_secs": 0.5, "runs": 1, "jobs": 3}, "b": {"min_secs": 1.5, "runs": 2}}"""
    assert(Bench.priorFloors(body, "/data/sf0.1", 32) ===
      Some(Map("a" -> Bench.Floor(0.5, Some(3L)), "b" -> Bench.Floor(1.5, None))))
    assert(Bench.priorFloors(body, "/data/sf0.01", 32) === None)
    assert(Bench.priorFloors(body, "/data/sf0.1", 4) === None)
    assert(Bench.priorFloors(body.replace("\"_cpus\": 32, ", ""), "/data/sf0.1", 32) === None)
    assert(Bench.priorFloors("{ not json", "/data/sf0.1", 32) === None)
  }

  test("a regression is a time still over twice its floor, or more jobs than the floor recorded") {
    val floors = Map("slow" -> Bench.Floor(0.5, Some(4L)), "more_jobs" -> Bench.Floor(0.5, Some(4L)),
      "steady" -> Bench.Floor(0.5, Some(4L)), "no_prior_jobs" -> Bench.Floor(0.5, None),
      "tiny" -> Bench.Floor(0.1, None))
    val results = Seq("slow" -> 1.2, "more_jobs" -> 0.5, "steady" -> 0.6, "no_prior_jobs" -> 0.6,
      "tiny" -> 0.9, "new_entry" -> 9.0)
    val jobs = Map("slow" -> 4L, "more_jobs" -> 5L, "steady" -> 4L, "no_prior_jobs" -> 9L)
    val regs = Bench.regressions(results, jobs, floors)
      .map(r => new ObjectMapper().readTree("{" + r + "}")).flatMap(_.properties.asScala).map(e => e.getKey -> e.getValue).toMap
    assert(regs.keySet === Set("slow", "more_jobs"))
    assert(regs("slow").get("ratio").asDouble === 2.4)
    assert(regs("more_jobs").get("prior_jobs").asLong === 4L)
    assert(regs("more_jobs").get("jobs").asLong === 5L)
  }

  test("counters attribute an entry's jobs, including those of Overlap legs and a streaming query's thread") {
    val sc = spark.sparkContext
    val counters = new Bench.EntryCounters
    sc.addSparkListener(counters)
    try {
      def work() = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      val expected = jobsDuring(work()).size
      assert(expected > 0)
      val (_, one) = counters.count(sc, "one")(work())
      assert(one.map(_.jobs) === Some(expected.toLong))
      assert(one.exists(c => c.stages > 0 && c.tasks > 0 && c.executorMs >= 0 && c.shuffleWriteBytes > 0))
      val (_, legs) = counters.count(sc, "legs")(Overlap.both(work(), work()))
      assert(legs.map(_.jobs) === Some(2L * expected))

      val dir = Files.createTempDirectory("bench_counters")
      spark.range(10).write.parquet(s"$dir/in")
      val (_, stream) = counters.count(sc, "stream") {
        spark.readStream.schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$dir/ckpt")
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => { df.collect(); () })
          .start().awaitTermination()
      }
      assert(stream.exists(_.jobs > 0))
      val (_, idle) = counters.count(sc, "idle")(())
      assert(idle === Some(Bench.Counters()))
    } finally sc.removeSparkListener(counters)
  }
}
