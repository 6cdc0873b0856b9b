package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.log.RecordLog

/**
 * `pubsub`: one closed-loop producer and two closed-loop consumers on one
 * 16-partition topic stored as a `graftlog` segment log.
 *
 * A produce request is a set of pre-generated Kafka v2 wire batches. It
 * goes through [[RecordLog.wireIngest]] (decode, CRC gate, offset
 * assignment), lands on the topic's high watermarks with LogAppendTime
 * stamps, and is appended with the `graftlog` writer, which rolls
 * segments and publishes the index atomically. The tail consumer follows
 * the newest appends by time cursor; the catch-up consumer seeks through
 * the backlog built in setup, one partition per fetch. Every eighth call
 * of each consumer is an offset query.
 */
final class Pubsub(spark: SparkSession, tracer: Tracer, seed: Long, root: String,
    checks: Checks) extends Workload {
  import Pubsub._

  private val gen = new Gen.PubsubGen(seed)
  private val parts = Partitions
  private val sc = spark.sparkContext

  // fixtures (rebuilt by every setup)
  private var topic: String = _
  private var pool: IndexedSeq[(Gen.Request, Seq[Row])] = _
  private var backlogEnd: Array[Long] = _

  // producer-side state: expected record hash per (partition, offset)
  private var expected: Array[ArrayBuffer[Long]] = _
  private var committed: Array[Long] = _ // high watermarks of finished appends
  private var requestBase: ArrayBuffer[Array[Long]] = _ // hwm before request n
  private var requestStartNs: ConcurrentHashMap[Long, Long] = _
  private var nextRequest = 0L
  private var injectedRejects = 0L
  private var sentAccepted = 0L
  private var produceCalls = 0L

  // consumer state
  private var tailTs: Long = _
  private var tailCursor: Array[Long] = _
  private var catchPart = 0
  private var catchCursor: Array[Long] = _
  private val rTail = Gen.rng(seed, 5)
  private val rCatch = Gen.rng(seed, 6)

  // measurements of the timed window
  private val publishBytes = new java.util.concurrent.atomic.AtomicLong()
  private val publishRecords = new java.util.concurrent.atomic.AtomicLong()
  private val fetchBytes = new java.util.concurrent.atomic.AtomicLong()
  private val e2eMs = ArrayBuffer.empty[Double]
  private val fetchStats = new ConcurrentHashMap[String, FetchStat]()

  private val wireSchema = StructType(Seq(StructField("partition", IntegerType),
    StructField("arrival", IntegerType), StructField("wire", BinaryType)))

  private def log: DataFrame = spark.read.format("graftlog").option("path", topic).load()

  def setup(dir: String): Unit = {
    topic = s"$dir/topic"
    pool = gen.requests(PoolSize).map { req =>
      req -> req.batches.map(b => Row(b.partition, b.arrival, b.bytes))
    }
    val backlog = gen.backlog(BacklogRecords)
    expected = Array.fill(parts)(ArrayBuffer.empty[Long])
    backlog.foreach { case (p, o, _, k, v) => expected(p) += Gen.recordHash(p, o, k, v) }
    backlogEnd = expected.map(_.size.toLong)
    committed = backlogEnd.clone()
    val schema = StructType(Seq(StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", LongType),
      StructField("key", BinaryType), StructField("value", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        backlog.map { case (p, o, t, k, v) => Row(p, o, t, k, v) }, parts), schema)
      .write.format("graftlog").mode("append").option("path", topic)
      .option("segment.records", SegmentRecords).option("batch.records", BatchRecords)
      .save()
    requestBase = ArrayBuffer.empty
    requestStartNs = new ConcurrentHashMap()
    nextRequest = 0L; injectedRejects = 0L; sentAccepted = 0L; produceCalls = 0L
    tailTs = TsBase - 1
    tailCursor = backlogEnd.clone()
    catchPart = 0
    catchCursor = Array.fill(parts)(0L)
    val r = Gen.rng(seed, 4)
    produce(); tailFetch(); catchupFetch(); offsetQuery(r); offsetQuery(r)
  }

  // ----------------------------------------------------------- produce

  private def produce(): Unit = {
    val n = nextRequest
    val (req, rows) = pool((n % pool.size).toInt)
    val ts = TsBase + n
    val base = expected.synchronized {
      val b = expected.map(_.size.toLong)
      req.accepted.foreach { case (p, recs) =>
        recs.zipWithIndex.foreach { case ((k, v), i) =>
          expected(p) += Gen.recordHash(p, b(p) + i, k, v)
        }
      }
      requestBase += b
      b
    }
    nextRequest += 1
    produceCalls += 1
    injectedRejects += req.rejectedBatches
    sentAccepted += req.acceptedRecords
    requestStartNs.put(ts, System.nanoTime())
    val hwm = typedLit(base.zipWithIndex.map { case (h, p) => p -> h }.toMap)
    val res = tracer.op("produce", sc) {
      val batches = spark.createDataFrame(java.util.Arrays.asList(rows: _*), wireSchema)
      val ingested = RecordLog.wireIngest(batches, col("wire"), col("partition"), col("arrival"))
        .observe(IngestMetrics,
          count(when(col("route") === "accept", 1)).as("accepted"),
          count(when(col("route") =!= "accept", 1)).as("rejected"))
      val stamped = RecordLog.stampTimestamp(ingested.where(col("route") === "accept"),
        "LogAppendTime", lit(null), lit(ts))
      tracer.span("sources.append", sc) {
        stamped.select(col("partition"),
            (col("offset") + element_at(hwm, col("partition"))).as("offset"),
            col("timestamp"), col("key"), col("value"))
          .write.format("graftlog").mode("append").option("path", topic)
          .option("segment.records", SegmentRecords).option("batch.records", BatchRecords)
          .save()
      }
    }(_ => true)
    if (res.nonEmpty) {
      expected.synchronized {
        req.accepted.foreach { case (p, recs) => committed(p) = base(p) + recs.size }
        expected.notifyAll()
      }
      if (tracer.recording) {
        publishBytes.addAndGet(req.wireBytes)
        publishRecords.addAndGet(req.acceptedRecords)
      }
    }
  }

  // ---------------------------------------------------------- consume

  private def stat(kind: String) = fetchStats.computeIfAbsent(kind, _ => new FetchStat)

  /** Rows must continue each partition's cursor densely, in order, with
    * the content the generator produced. Returns rows per partition. */
  private def checkRun(rows: Array[Row], cursor: Array[Long], what: String): Map[Int, Int] = {
    val seen = scala.collection.mutable.Map.empty[Int, Int]
    rows.foreach { r =>
      val p = r.getInt(0); val o = r.getLong(1)
      val want = cursor(p) + seen.getOrElse(p, 0)
      if (o != want) throw new IllegalStateException(s"$what: p$p offset $o, expected $want")
      val h = Gen.recordHash(p, o, r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4))
      val e = expected.synchronized {
        if (o < expected(p).size) Some(expected(p)(o.toInt)) else None
      }
      if (!e.contains(h)) throw new IllegalStateException(s"$what: p$p offset $o content differs")
      seen(p) = seen.getOrElse(p, 0) + 1
    }
    seen.toMap
  }

  private def tailFetch(): Unit = {
    val from = tailTs
    val res = tracer.op("tail_fetch", sc) {
      val df = log.where(col("timestamp") > from)
        .select("partition", "offset", "timestamp", "key", "value")
      val rows = tracer.span("sources.tail_fetch", sc)(df.collect())
      val doneNs = System.nanoTime()
      (rows, doneNs, keptSegments(df, graft.sources.LogSource.Bounds(None, Long.MinValue,
        Long.MaxValue, from + 1, Long.MaxValue)))
    } { case (rows, _, _) => checkRun(rows, tailCursor, "tail fetch"); true }
    res match {
      case None => ()
      case Some((rows, doneNs, segs)) =>
        rows.foreach { r => tailCursor(r.getInt(0)) += 1 }
        if (rows.nonEmpty) tailTs = rows.map(_.getLong(2)).max
        else expected.synchronized {
          // long poll: an empty fetch waits, as a broker holds it for
          // fetch.max.wait, until the next append commits
          if (tailCursor.toSeq == committed.toSeq) expected.wait(LongPollMs)
        }
        if (tracer.recording) {
          val s = stat("tail")
          s.synchronized {
            s.fetches += 1
            if (rows.isEmpty) s.empty += 1
            segs.foreach { case (k, _, kr) =>
              s.kept += k; s.keptRows += kr; s.traced += 1; s.tracedRows += rows.length
            }
          }
          fetchBytes.addAndGet(rows.map(r => rowBytes(r)).sum)
          e2eMs.synchronized {
            rows.foreach { r =>
              e2eMs += (doneNs - requestStartNs.get(r.getLong(2))) / 1e6
            }
          }
        }
    }
  }

  private def catchupFetch(): Unit = {
    val p = catchPart
    catchPart = (catchPart + 1) % parts
    val from = catchCursor(p)
    val end = backlogEnd(p)
    if (end == 0) return
    val res = tracer.op("catchup_fetch", sc) {
      val df = RecordLog.fetch(log.where(col("offset") < from + CatchupRows), p, from, CatchupRows)
        .select("partition", "offset", "timestamp", "key", "value")
      (tracer.span("sources.catchup_fetch", sc)(df.collect()),
        keptSegments(df, graft.sources.LogSource.Bounds(Some(Set(p)), from,
          from + CatchupRows - 1, Long.MinValue, Long.MaxValue)))
    } { case (rows, _) =>
      val cur = Array.fill(parts)(0L); cur(p) = from
      checkRun(rows, cur, "catch-up fetch")
      rows.length >= math.min(CatchupRows.toLong, end - from)
    }
    res match {
      case None => ()
      case Some((rows, segs)) =>
        val next = from + rows.length
        catchCursor(p) = if (next >= end) 0L else next
        if (tracer.recording) {
          val s = stat("catchup")
          s.synchronized {
            s.fetches += 1
            if (rows.isEmpty) s.empty += 1
            segs.foreach { case (k, _, kr) =>
              s.kept += k; s.keptRows += kr; s.traced += 1; s.tracedRows += rows.length
            }
          }
          fetchBytes.addAndGet(rows.map(r => rowBytes(r)).sum)
        }
    }
  }

  private def offsetQuery(r: java.util.SplittableRandom): Unit = {
    val (lo, committedRequests) = expected.synchronized((committed.clone(), requestBase.size))
    val byTime = committedRequests > 0 && r.nextBoolean()
    val res =
      if (!byTime) tracer.op("latest_offsets", sc) {
        tracer.span("log.offset_query", sc)(RecordLog.latestOffsets(log).collect())
      } { rows =>
        val hi = expected.synchronized(expected.map(_.size.toLong))
        val got = rows.map(x => x.getInt(0) -> x.getLong(1)).toMap
        (0 until parts).forall(p =>
          if (lo(p) == 0) !got.contains(p) || got(p) <= hi(p)
          else got.get(p).exists(h => h >= lo(p) && h <= hi(p)))
      }
      else {
        val n = r.nextInt(committedRequests)
        val base = expected.synchronized(requestBase(n))
        tracer.op("offsets_for_time", sc) {
          tracer.span("log.offset_query", sc)(
            RecordLog.offsetsForTimestamp(log, col("timestamp"), lit(TsBase + n)).collect())
        } { rows =>
          val got = rows.map(x => x.getInt(0) -> x.getLong(1)).toMap
          got.forall { case (p, o) => o == base(p) } &&
            (0 until parts).forall(p => lo(p) <= base(p) || got.contains(p))
        }
      }
  }

  // ------------------------------------------------------------- run

  def run(deadlineNs: Long): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def loop(name: String)(step: Int => Unit): Thread = {
      val t = new Thread(() => {
        // one fair-scheduler pool per client, as a shared broker serves
        // each client its share of the cores
        sc.setLocalProperty("spark.scheduler.pool", name)
        try {
          var i = 0
          while (System.nanoTime() < deadlineNs) { step(i); i += 1 }
        } catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-$name")
      t.start(); t
    }
    val threads = Seq(
      loop("producer")(_ => produce()),
      loop("tail")(i => if (i % QueryEvery == QueryEvery - 1) offsetQuery(rTail) else tailFetch()),
      loop("catchup")(i => if (i % QueryEvery == QueryEvery - 1) offsetQuery(rCatch) else catchupFetch()))
    threads.foreach(_.join())
    errors.forEach(e => checks.check(s"client thread: $e", ok = false))
  }

  // ----------------------------------------------------------- checks

  def verify(): Unit = {
    // the tail consumer must reach the final high watermark
    var rounds = 0
    while (tailCursor.toSeq != committed.toSeq && rounds < 50) { tailFetch(); rounds += 1 }
    checks.check("tail consumer reached every appended offset",
      tailCursor.toSeq == committed.toSeq)
    // offsets dense per partition and content equal to the generator's
    val got = log.groupBy("partition")
      .agg(count(lit(1)), min("offset"), max("offset"),
        bit_xor(xxhash64(col("partition"), col("offset"), col("key"), col("value"))))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val want = (0 until parts).filter(committed(_) > 0).map { p =>
      p -> ((committed(p), 0L, committed(p) - 1, expected(p).take(committed(p).toInt)
        .foldLeft(0L)(_ ^ _)))
    }.toMap
    checks.check("topic offsets dense and records equal the generator", got == want)
    // every produce request's rejected batches, as the decoder reported them
    Tracer.await(10000)(ingestEvents.size >= produceCalls)
    val obs = ingestEvents
    checks.check("functions.batches_rejected equals the injected count",
      obs.size == produceCalls && obs.map(_._2).sum == injectedRejects &&
        obs.map(_._1).sum == sentAccepted)
  }

  // (accepted records, rejected batches) of each produce plan, as the SQL
  // listener saw them; in a traced run, also the time its
  // offset-assignment operators took
  private val ingest = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val offsetAssignMs = new java.util.concurrent.atomic.DoubleAdder()
  private val offsetAssignPlans = new java.util.concurrent.atomic.AtomicLong()
  tracer.executionHandlers.add { qe =>
    qe.observedMetrics.get(IngestMetrics).foreach { r =>
      ingest.add((r.getLong(0), r.getLong(1)))
      if (tracer.traceRun && tracer.recording) {
        offsetAssignMs.add(Plans.timeMetricsMs(qe.executedPlan, Set("Window", "Sort", "Exchange")))
        offsetAssignPlans.incrementAndGet()
      }
    }
  }
  private def ingestEvents: Seq[(Long, Long)] = ingest.toArray(Array.empty[(Long, Long)]).toSeq

  // ---------------------------------------------------------- metrics

  private def rowBytes(r: Row): Long =
    r.getAs[Array[Byte]](3).length.toLong + r.getAs[Array[Byte]](4).length

  /** In a traced operation: `segments=k/n` of the fetch's scan as the
    * planner pruned it, and the rows the segments surviving `bounds` hold. */
  private def keptSegments(df: DataFrame,
      bounds: graft.sources.LogSource.Bounds): Option[(Int, Int, Long)] =
    if (!tracer.traced(sc)) None
    else {
      val keptRows = graft.sources.LogSource.parseIndex(topic)
        .filter(bounds.segmentSurvives).map(s => s.lastOffset - s.baseOffset + 1).sum
      SegmentsRe.findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(m => (m.group(1).toInt, m.group(2).toInt, keptRows))
    }

  def endToEnd(ops: Seq[Op]): Map[String, Double] = {
    val produce = ops.filter(o => o.kind == "produce" && o.done)
    Map("op_p50_ms" -> Stats.median(produce.map(_.ms)),
      "records_s" -> publishRecords.get / Stats.spanS(produce))
  }

  def perLayer(ops: Seq[Op], windowS: Double): Map[String, Double] = {
    val produce = ops.filter(o => o.kind == "produce" && o.done)
    val self = tracer.selfTimesMs
    val tail = stat("tail"); val catchup = stat("catchup")
    def yieldOf(s: FetchStat): Double =
      if (s.keptRows == 0) 0.0 else s.tracedRows.toDouble / s.keptRows
    val segIndex = graft.sources.LogSource.parseIndex(topic)
    val decode = decodeMicro()
    Map(
      "pubsub.publish_mb_s" -> publishBytes.get / 1e6 / windowS,
      "pubsub.publish_p95_ms" -> Stats.pct(produce.map(_.ms), 95),
      "pubsub.e2e_p50_ms" -> Stats.median(e2eMs.toSeq),
      "pubsub.e2e_p95_ms" -> Stats.pct(e2eMs.toSeq, 95),
      "pubsub.fetch_mb_s" -> fetchBytes.get / 1e6 / windowS,
      "pubsub.catchup_p50_ms" ->
        Stats.median(ops.filter(o => o.kind == "catchup_fetch" && o.done).map(_.ms)),
      "functions.batches_decoded" -> decode._1,
      "functions.batches_rejected" -> decode._2,
      "functions.decode_ns_per_record" -> decode._3,
      "log.offset_assign_ms" -> offsetAssignMs.sum / math.max(1L, offsetAssignPlans.get),
      "log.records_assigned" -> publishRecords.get.toDouble,
      "log.offset_query_ms" -> Stats.median(self.getOrElse("log.offset_query", Nil)),
      "sources.append_ms" -> Stats.median(self.getOrElse("sources.append", Nil)),
      "sources.segments_written" -> (segIndex.size.toDouble - segmentsAtStart),
      "sources.segments_total" -> segIndex.size.toDouble,
      "sources.tail_fetch_ms" -> Stats.median(self.getOrElse("sources.tail_fetch", Nil)),
      "sources.catchup_fetch_ms" -> Stats.median(self.getOrElse("sources.catchup_fetch", Nil)),
      "sources.segments_kept_per_fetch.tail" -> tail.keptPerFetch,
      "sources.segments_kept_per_fetch.catchup" -> catchup.keptPerFetch,
      "sources.fetch_yield.tail" -> yieldOf(tail),
      "sources.fetch_yield.catchup" -> yieldOf(catchup),
      "sources.empty_fetch_ratio" ->
        (tail.empty + catchup.empty).toDouble / math.max(1L, tail.fetches + catchup.fetches))
  }

  private var segmentsAtStart = 0.0
  override def beforeRun(): Unit = {
    segmentsAtStart = graft.sources.LogSource.parseIndex(topic).size.toDouble
    publishBytes.set(0); publishRecords.set(0); fetchBytes.set(0)
    e2eMs.clear(); fetchStats.clear(); offsetAssignMs.reset(); offsetAssignPlans.set(0)
  }

  /** Direct [[graft.functions.RecordBatchCodec]] calls over the request
    * pool: (batches decoded, batches rejected, ns per decoded record). */
  private def decodeMicro(): (Double, Double, Double) = {
    import graft.functions.RecordBatchCodec._
    val batches = pool.flatMap(_._1.batches)
    var decoded = 0L; var rejected = 0L; var records = 0L
    val t0 = System.nanoTime()
    (0 until 5).foreach { _ =>
      batches.foreach { b =>
        val bytes = b.bytes
        if (bytes.length < HeaderSize || !crcValid(bytes)) rejected += 1
        else {
          val h = decodeHeader(bytes)
          records += decodeRecords(recordsRegion(bytes), h.recordCount).size
          decoded += 1
        }
      }
    }
    val ns = (System.nanoTime() - t0).toDouble
    (decoded / 5.0, rejected / 5.0, ns / math.max(1L, records))
  }
}

object Pubsub {
  // inputs: Zipf(ZipfS) keys, values of MinValue..MaxValue bytes in
  // RecordsPerBatch-record wire batches, each with one of Codecs (none,
  // lz4, zstd), CorruptShare with a bad CRC and TruncateShare truncated
  val Partitions = 16
  val Keys = 2000
  val ZipfS = 1.0
  val RecordsPerRequest = 96
  val RecordsPerBatch = 16
  val MinValue = 768
  val MaxValue = 1280
  val CorruptShare = 0.01
  val TruncateShare = 0.005
  val Codecs = Seq(0, 3, 4)
  val PoolSize = 40
  val BacklogRecords = 16000
  val SegmentRecords = 1000
  val BatchRecords = 50
  val CatchupRows = 500
  val QueryEvery = 8
  val LongPollMs = 500L
  val TsBase = 1000000000000L
  val IngestMetrics = "perfbench_ingest"
  private val SegmentsRe = "segments=(\\d+)/(\\d+)".r
}

/** Fetches of one consumer; the last four fields cover traced fetches. */
final class FetchStat {
  var fetches = 0L
  var empty = 0L
  var kept = 0L
  var traced = 0L
  var keptRows = 0L
  var tracedRows = 0L
  def keptPerFetch: Double = if (traced == 0) 0.0 else kept.toDouble / traced
}
