package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** A benchmark workload: fixtures and warm-up in `setup`, closed-loop
  * operations until the deadline in `run`, output checks in `verify`. */
trait Workload {
  def setup(dir: String): Unit
  def beforeRun(): Unit = ()
  def run(deadlineNs: Long): Unit
  def verify(): Unit
  /** `op_p50_ms` and `records_s` of the operations `ops`. */
  def endToEnd(ops: Seq[Op]): Map[String, Double]
  /** This workload's layer metrics; absent names read 0. */
  def perLayer(ops: Seq[Op], windowS: Double): Map[String, Double]
}

/** Output checks that run outside a timed operation. Each one counts as
  * an attempted operation, and a failed one as a failed operation. */
final class Checks {
  private val attempted = new java.util.concurrent.atomic.AtomicLong()
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def check(what: String, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failures.add(what)
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }
  def attemptedCount: Long = attempted.get
  def failedCount: Long = failures.size.toLong
}

object Stats {
  /** Seconds from the first start to the last end of `ops`: the rate
    * window that holds only completed operations. */
  def spanS(ops: Seq[Op]): Double =
    if (ops.isEmpty) 1.0 else (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Plans {
  /** Every node of an executed plan, through adaptive and stage wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** Summed timing metrics (ms) of the nodes whose name starts with one
    * of `names`. */
  def timeMetricsMs(p: SparkPlan, names: Set[String]): Double =
    nodes(p).filter(n => names.exists(n.nodeName.startsWith)).flatMap(_.metrics.values)
      .map { m =>
        m.metricType match {
          case "nsTiming" => m.value / 1e6
          case "timing" => m.value.toDouble
          case _ => 0.0
        }
      }.sum
}

/**
 * Runs one workload and writes one JSON result object to `--out`.
 *
 * Set-up (session, fixtures, warm-up) runs [[Setups]] times on fresh
 * directories; `setup_s` is the median, so work moved into set-up shows.
 * Between the first and the second set-up, the operations run untimed
 * for [[WarmupS]] on the first set-up's fixtures.
 * The last set-up's fixtures are measured for `--seconds` of closed-loop
 * operations. With `--trace 1` every second operation of each kind is
 * traced, so that traced and untraced operations share the window; the
 * run reports the per-layer metrics of the traced operations and their
 * `op_p50_ms` against that of the untraced ones.
 */
object Main {
  val Setups = 3
  val WarmupS = 12.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val cpus = Runtime.getRuntime.availableProcessors

    val tracer = new Tracer(trace)
    val checks = new Checks
    var spark: SparkSession = null
    var wl: Workload = null
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupS = (1 to Setups).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      tracer.executionHandlers.clear()
      tracer.install(spark)
      val dir = work.resolve(s"data-$rep")
      wl = workload match {
        case "pubsub" => new Pubsub(spark, tracer, seed, dir.toString, checks)
        case "lake" => new Lake(spark, tracer, seed, checks)
        case "curate" => new Curate(spark, tracer, seed, checks)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      wl.setup(dir.toString)
      val s = (System.nanoTime() - t0) / 1e9
      // one warm-up operation of each kind leaves the JIT still speeding
      // the operations up through the window; run them untimed on the
      // first set-up's fixtures so that the later set-ups and the window
      // start warm
      if (rep == 1) wl.run(System.nanoTime() + (WarmupS * 1e9).toLong)
      s
    }
    val coldS = jvmS + setupS.head

    val gc0 = gcTotals
    val io0 = procIo
    wl.beforeRun()
    tracer.recording = true
    val start = System.nanoTime()
    wl.run(start + (seconds * 1e9).toLong)
    val windowS = (System.nanoTime() - start) / 1e9
    tracer.recording = false
    val gc1 = gcTotals
    val io1 = procIo
    wl.verify()

    val ops = tracer.allOps
    val attempted = ops.size + tracer.unrecordedOps.get + checks.attemptedCount
    val failed = ops.count(!_.ok) + tracer.unrecordedFailures.get + checks.failedCount
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val e2e = wl.endToEnd(ops)
        Seq(("setup_s", Stats.median(setupS), "s"),
          ("op_p50_ms", e2e("op_p50_ms"), "ms"),
          ("records_s", e2e("records_s"), "1/s"),
          ("retained_heap_mb", retainedHeapMb(), "MB"))
      } else {
        val layer = wl.perLayer(ops, windowS)
        val traced = ops.filter(_.traced)
        val spark0 = sparkLayer(spark, tracer, traced, cpus)
        val traceDir = work.getParent.resolve("traces")
        tracer.writeSpans(traceDir.resolve(s"$workload-$seed.jsonl"))
        val tracedP50 = wl.endToEnd(traced)("op_p50_ms")
        val plainP50 = wl.endToEnd(ops.filterNot(_.traced))("op_p50_ms")
        val base = Map(
          "jvm.gc_ms" -> (gc1._2 - gc0._2).toDouble,
          "jvm.gc_count" -> (gc1._1 - gc0._1).toDouble,
          "io.read_mb" -> (io1._1 - io0._1) / 1e6,
          "io.write_mb" -> (io1._2 - io0._2) / 1e6,
          "op.p95_ms" -> Stats.pct(ops.filter(o => o.kind == primaryKind(workload) && o.done)
            .map(_.ms), 95),
          "fail_ratio" -> failed.toDouble / math.max(1L, attempted),
          "setup.cold_s" -> coldS,
          "trace.spans" -> tracer.allSpans.size.toDouble,
          "trace.op_p50_ms" -> tracedP50,
          "trace.overhead_pct" -> (if (plainP50 == 0) 0.0 else 100.0 * (tracedP50 / plainP50 - 1)))
        val all = base ++ spark0 ++ layer
        PerLayer.units(workload).map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    spark.stop()

    val json = new StringBuilder
    json.append(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""")
    json.append(metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", "))
    json.append("}}")
    Files.write(out, json.toString.getBytes("UTF-8"))
  }

  def primaryKind(workload: String): String = if (workload == "pubsub") "produce" else "trigger"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(cpus: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      // Spark's status store keeps up to 1000 jobs and SQL executions by
      // default for a UI that is off here; keep few, so that
      // `retained_heap_mb` holds less of Spark's bookkeeping
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.numRecentProgressUpdates", "20")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.streaming.ForklessLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).filter(_ >= 0).sum,
      beans.map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  /** (read_bytes, write_bytes) of this process; zeros where the kernel
    * does not expose them. */
  private def procIo: (Long, Long) = {
    val p = Paths.get("/proc/self/io")
    if (!Files.isReadable(p)) (0L, 0L)
    else {
      val kv = Files.readAllLines(p).asScala.flatMap { l =>
        l.split(":\\s*") match {
          case Array(k, v) => Some(k -> v.trim.toLong)
          case _ => None
        }
      }.toMap
      (kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
    }
  }

  /** Live heap after full GCs: each heap pool's usage as the last GC
    * left it, so allocations made after that GC (a fresh eden region,
    * 4 MB at a time) do not count. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  /** The `spark.*` layer, per operation kind, from the job, stage and task
    * records the listener attributed to each timed operation. */
  private def sparkLayer(spark: SparkSession, tracer: Tracer, ops: Seq[Op],
      cpus: Int): Map[String, Double] = {
    // listener events arrive asynchronously
    tracer.drain(spark.sparkContext)
    val counts = tracer.sparkCounts
    val perKind = PerLayer.kinds.flatMap { k =>
      val ks = ops.filter(_.kind == k)
      val n = math.max(1, ks.size).toDouble
      val tasks = ks.map(o => counts.tasks.getOrElse(o.id, new TaskAgg))
      val wallS = ks.map(_.ms).sum / 1e3
      val taskS = tasks.map(_.runNs).sum / 1e9
      Seq(
        s"spark.jobs_per_op.$k" -> ks.map(o => counts.jobs.getOrElse(o.id, 0)).sum / n,
        s"spark.stages_per_op.$k" -> ks.map(o => counts.stages.getOrElse(o.id, 0L)).sum / n,
        s"spark.tasks_per_op.$k" -> tasks.map(_.tasks).sum / n,
        s"spark.task_s.$k" -> taskS / n,
        s"spark.driver_share.$k" -> (if (wallS == 0) 0.0 else 1.0 - taskS / (wallS * cpus)),
        s"spark.task_wait_ms.$k" -> tasks.map(_.waitMs).sum / n,
        s"spark.shuffle_write_mb.$k" -> tasks.map(_.shuffleWrite).sum / 1e6 / n,
        s"spark.shuffle_read_mb.$k" -> tasks.map(_.shuffleRead).sum / 1e6 / n,
        s"spark.spill_mb.$k" -> tasks.map(_.spill).sum / 1e6 / n)
    }.toMap
    perKind + ("spark.unattributed_jobs" ->
      counts.unattributed.toDouble / math.max(1, ops.size))
  }
}

/** The per-layer metric names traced runs report, in order: the shared
  * ones on every workload, the `analytics` ones on `curate` only, which is
  * not among `BENCHMARK.json`'s workloads. */
object PerLayer {
  val kinds = Seq("produce", "tail_fetch", "catchup_fetch", "latest_offsets",
    "offsets_for_time", "trigger")
  private val sparkPer = Seq("jobs_per_op" -> "1/op", "stages_per_op" -> "1/op",
    "tasks_per_op" -> "1/op", "task_s" -> "s/op", "driver_share" -> "ratio",
    "task_wait_ms" -> "ms/op", "shuffle_write_mb" -> "MB/op",
    "shuffle_read_mb" -> "MB/op", "spill_mb" -> "MB/op")
  val shared: Seq[(String, String)] =
    kinds.flatMap(k => sparkPer.map { case (m, u) => s"spark.$m.$k" -> u }) ++ Seq(
      "spark.unattributed_jobs" -> "1/op",
      "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
      "io.read_mb" -> "MB", "io.write_mb" -> "MB",
      "op.p95_ms" -> "ms", "fail_ratio" -> "ratio", "setup.cold_s" -> "s",
      "trace.spans" -> "count", "trace.op_p50_ms" -> "ms", "trace.overhead_pct" -> "%",
      "pubsub.publish_mb_s" -> "MB/s", "pubsub.publish_p95_ms" -> "ms",
      "pubsub.e2e_p50_ms" -> "ms", "pubsub.e2e_p95_ms" -> "ms",
      "pubsub.fetch_mb_s" -> "MB/s", "pubsub.catchup_p50_ms" -> "ms",
      "functions.batches_decoded" -> "count", "functions.batches_rejected" -> "count",
      "functions.decode_ns_per_record" -> "ns",
      "log.offset_assign_ms" -> "ms/op", "log.records_assigned" -> "count",
      "log.offset_query_ms" -> "ms",
      "sources.append_ms" -> "ms", "sources.segments_written" -> "count",
      "sources.segments_total" -> "count", "sources.tail_fetch_ms" -> "ms",
      "sources.catchup_fetch_ms" -> "ms",
      "sources.segments_kept_per_fetch.tail" -> "count",
      "sources.segments_kept_per_fetch.catchup" -> "count",
      "sources.fetch_yield.tail" -> "ratio", "sources.fetch_yield.catchup" -> "ratio",
      "sources.empty_fetch_ratio" -> "ratio",
      "streaming.triggers" -> "count", "streaming.start_ms" -> "ms",
      "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.commit_offsets_ms" -> "ms", "streaming.multiplex_ms" -> "ms",
      "streaming.outputs_per_trigger" -> "count",
      "streaming.dlq_rows.bad_input" -> "count",
      "streaming.dlq_rows.translation_error" -> "count",
      "streaming.dlq_rows.incompatible_schema" -> "count",
      "streaming.checkpoint_mb" -> "MB",
      "wasm.records_in" -> "count", "wasm.records_out" -> "count",
      "wasm.ns_per_record" -> "ns")
  val analytics: Seq[(String, String)] = Seq(
    "analytics.verdicts.blocked_url" -> "count", "analytics.verdicts.low_quality" -> "count",
    "analytics.verdicts.dup_corpus" -> "count", "analytics.verdicts.dup_batch" -> "count",
    "analytics.verdicts.new" -> "count", "analytics.index_rows" -> "count",
    "analytics.state_mb" -> "MB")
  def units(workload: String): Seq[(String, String)] =
    if (workload == "curate") shared ++ analytics else shared
}
