package graft

import java.util.Properties
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()

  /** Properties of every job started while `body` runs. The listener bus
    * is asynchronous, so a marker job started after `body` (and one
    * before it), each under a group of its own, shows that every job
    * start in between has been delivered. */
  protected def jobsDuring(body: => Any): Seq[Properties] = {
    val sc = spark.sparkContext
    val jobs = new LinkedBlockingQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(Option(e.properties).getOrElse(new Properties))
    }
    def untilMarker(): Seq[Properties] = {
      val id = java.util.UUID.randomUUID().toString
      sc.setJobGroup(id, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(jobs.poll(60, TimeUnit.SECONDS))
        .map { p => assert(p != null, "marker job start not delivered"); p }
        .takeWhile(_.getProperty("spark.jobGroup.id") != id).toSeq
    }
    sc.addSparkListener(listener)
    try { untilMarker(); body; untilMarker() }
    finally sc.removeSparkListener(listener)
  }

  /** Classes Spark's code generator compiled while `body` ran: the count
    * delta of its compile-time histogram. A plan whose generated source is
    * already in Spark's code cache compiles none. */
  protected def compilesDuring(body: => Any): Long = {
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiled.getCount
    body
    compiled.getCount - before
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}
