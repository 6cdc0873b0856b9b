package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `op` is the id of the client operation it belongs
  * to (shared by every span of that operation), `parent` the enclosing
  * span's id (0 at the top). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** One client operation (produce request, fetch, offset query, trigger)
  * as the benchmark timed it, with or without tracing. `done`: the call
  * returned; `ok`: it returned and its output checks passed. Only done
  * operations are timed. */
final case class Op(id: Long, kind: String, startNs: Long, endNs: Long,
    traced: Boolean, done: Boolean, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class TaskAgg {
  var tasks = 0L
  var runNs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

object TaskAgg {
  def sum(xs: Seq[TaskAgg]): TaskAgg = {
    val t = new TaskAgg
    xs.foreach { x =>
      t.tasks += x.tasks; t.runNs += x.runNs; t.waitMs += x.waitMs
      t.shuffleWrite += x.shuffleWrite; t.shuffleRead += x.shuffleRead; t.spill += x.spill
    }
    t
  }
}

/** One Spark job as the listener saw it: the operation id in its local
  * properties (0 if none) and its submission time (ms). */
final class JobRec(val prop: Long, val timeMs: Long) {
  val stages = new AtomicLong()
  val tasks = new TaskAgg
}

/** Spark counters per operation id, and the jobs that did not carry the
  * id of the operation open at their submission. */
final case class SparkCounts(jobs: Map[Long, Int], stages: Map[Long, Long],
    tasks: Map[Long, TaskAgg], unattributed: Long)

/**
 * The benchmark's own tracing: spans recorded around each call into a
 * layer, the client operations, and the Spark-side records that Spark's
 * public listeners deliver (jobs, stages, tasks, SQL executions,
 * streaming progress).
 *
 * In a traced run every recorded operation puts its id in the local property
 * [[Tracer.OpKey]] of the thread that issues it, negated when the
 * operation is not traced. Jobs are attributed after the window, from the
 * time each was submitted: a job whose property names an operation that
 * was open at its submission belongs to it; a job that carries no
 * property, or one inherited by a pooled thread from an earlier
 * operation, is unattributed and charged to the one operation open at
 * its submission, if there is exactly one. Jobs of untraced operations
 * are left out.
 *
 * With `traceRun` set, every second recorded operation of each kind is
 * traced, starting with the second, and the listeners keep their
 * records; otherwise only operations are kept (they give the end-to-end
 * numbers).
 */
final class Tracer(val traceRun: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  /** Wall-clock window (ms) of each recorded operation, by signed id. */
  private val windows = new ConcurrentHashMap[Long, (Long, Long)]()
  private val current = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var recording = false
  private val kindCount = new ConcurrentHashMap[String, AtomicLong]()
  /** Operations outside the timed window (warm-up, drain), and how many
    * of them failed. */
  val unrecordedOps = new AtomicLong(0)
  val unrecordedFailures = new AtomicLong(0)

  // listener-side state
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val drainJobs = new ConcurrentHashMap[Int, String]()
  @volatile private var drained = ""
  /** Called for every finished SQL execution; handlers keep what they
    * need, so no plan outlives its callback. */
  val executionHandlers =
    new java.util.concurrent.CopyOnWriteArrayList[QueryExecution => Unit]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val queryStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  /** The operation a streaming batch body should charge its jobs to. */
  val streamOp = new AtomicReference[java.lang.Long](null)

  /** Run one client operation; an exception marks it failed, never timed.
    * `check` inspects the result and returns false when the output is
    * wrong. */
  def op[T](kind: String, sc: SparkContext)(body: => T)(check: T => Boolean): Option[T] = {
    val id = nextId.getAndIncrement()
    val rec = recording
    val marked = traceRun && rec
    val traced = marked &&
      kindCount.computeIfAbsent(kind, _ => new AtomicLong).getAndIncrement() % 2 == 1
    val key = if (traced) id else -id
    if (marked) sc.setLocalProperty(OpKey, key.toString)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Some(body) catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        System.err.println(s"[perfbench] $kind op failed: $e")
        None
    }
    val t1 = System.nanoTime()
    if (marked) {
      sc.setLocalProperty(OpKey, null)
      windows.put(key, (w0, System.currentTimeMillis()))
      if (traced) spans.add(Span(id, 0L, id, kind, t0, t1))
    }
    // checks run after the operation closed: untimed and unattributed
    val ok = res.exists(r => try check(r) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind check failed: $e"); false
    })
    if (rec) ops.add(Op(id, kind, t0, t1, traced, res.nonEmpty, ok))
    else {
      unrecordedOps.incrementAndGet()
      if (!ok) unrecordedFailures.incrementAndGet()
    }
    if (ok) res else None
  }

  /** The signed id of the operation open on this thread, 0 if none. */
  def currentOp(sc: SparkContext): Long =
    Option(sc.getLocalProperty(OpKey)).map(_.toLong).getOrElse(0L)

  /** Whether the operation open on this thread is traced. */
  def traced(sc: SparkContext): Boolean = currentOp(sc) > 0

  /** A span inside the current operation, around a call into a layer. */
  def span[T](name: String, sc: SparkContext)(body: => T): T =
    if (!traced(sc)) body
    else {
      val id = nextId.getAndIncrement()
      val stack = current.get()
      current.set(id :: stack)
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        current.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(currentOp(sc)), currentOp(sc), name,
          t0, t1))
      }
    }

  def allOps: Seq[Op] = ops.asScala.toSeq
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: each span's duration minus the part of it
    * its child spans cover. */
  def selfTimesMs: Map[String, Seq[Double]] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
        .filter(_ > 0).sum
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMap(_._1)(_._2)
  }

  /** Per-operation Spark counters of the traced operations, with jobs
    * attributed as the class comment describes. */
  def sparkCounts: SparkCounts = {
    val ws = windows.asScala.toSeq
    def openAt(t: Long) = ws.collect { case (o, (a, b)) if a <= t && t <= b => o }
    // the listener keeps every job of the session; the bus may deliver the
    // last operations' jobs after the window closed, so the window is cut
    // here, by submission time
    val first = ws.map(_._2._1).minOption.getOrElse(0L)
    val last = ws.map(_._2._2).maxOption.getOrElse(-1L)
    var unattributed = 0L
    val inWindow = jobs.asScala.values.toSeq.filter(j => first <= j.timeMs && j.timeMs <= last)
    val opOf = inWindow.map { j =>
      val valid = j.prop != 0 && Option(windows.get(j.prop)).exists { case (a, b) =>
        a <= j.timeMs && j.timeMs <= b
      }
      val op = if (valid) j.prop else {
        val o = openAt(j.timeMs)
        val charged = if (o.size == 1) o.head else 0L
        if (charged >= 0) unattributed += 1
        charged
      }
      op -> j
    }.filter(_._1 > 0)
    val byOp = opOf.groupMap(_._1)(_._2)
    SparkCounts(byOp.map { case (o, js) => o -> js.size },
      byOp.map { case (o, js) => o -> js.map(_.stages.get).sum },
      byOp.map { case (o, js) => o -> TaskAgg.sum(js.map(_.tasks)) }, unattributed)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    allSpans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  /** Register the Spark listeners on `spark`. */
  def install(spark: SparkSession): Unit = {
    // job and stage ids restart with each session
    jobs.clear(); stageJob.clear(); stageSubmitMs.clear()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        prop(DrainKey).foreach(drainJobs.put(js.jobId, _))
        if (traceRun) {
          jobs.put(js.jobId, new JobRec(prop(OpKey).map(_.toLong).getOrElse(0L), js.time))
          js.stageIds.foreach(s => stageJob.put(s, js.jobId))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(drainJobs.get(je.jobId)).foreach(drained = _)
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (traceRun)
          stageSubmitMs.put(ss.stageInfo.stageId,
            ss.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (traceRun) jobOfStage(sc.stageInfo.stageId).foreach(_.stages.incrementAndGet())
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (traceRun) jobOfStage(te.stageId).foreach { j =>
          val agg = j.tasks
          agg.synchronized {
            agg.tasks += 1
            val m = te.taskMetrics
            if (m != null) {
              agg.runNs += m.executorRunTime * 1000000L
              agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
            Option(stageSubmitMs.get(te.stageId)).foreach { sub =>
              agg.waitMs += math.max(0L, te.taskInfo.launchTime - sub)
            }
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executionHandlers.forEach(h => h(qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        queryStarts.add(System.nanoTime())
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (traceRun && e.progress.numInputRows > 0) progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Return once the listener has received every event posted so far: it
    * runs a marker job and waits for that job's end, which the listener
    * bus delivers after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID.toString
    sc.setLocalProperty(DrainKey, token)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainKey, null)
    Tracer.await(60000)(drained == token)
  }

  private def jobOfStage(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
}

object Tracer {
  val OpKey = "perfbench.op"
  val DrainKey = "perfbench.drain"

  /** Wait until `cond` holds (listener events arrive asynchronously). */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(10)
    cond
  }
}
