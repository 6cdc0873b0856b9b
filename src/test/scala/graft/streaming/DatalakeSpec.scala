package graft.streaming

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** D1/D6 + U2/U4 end-to-end: partitioned commits with snapshot expiry,
  * multi-output multiplexing, and the transform deploy→pause→resume
  * lifecycle with offset-start options. */
class DatalakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def mkRows(ids: Range) = ids.map { i =>
    (i.toLong, s"2024-01-01 ${"%02d".format(i % 24)}:00:00", s"v$i")
  }.toDF("offset", "ts_s", "v").withColumn("timestamp", col("ts_s").cast("timestamp")).drop("ts_s")

  test("commits are hour-partitioned; expiry drops old snapshots' data and metadata") {
    val out = tmp("dl")
    val s1 = Datalake.commit(mkRows(0 until 10), col("timestamp"), out)
    val s2 = Datalake.commit(mkRows(10 until 30), col("timestamp"), out)
    val s3 = Datalake.commit(mkRows(30 until 35), col("timestamp"), out)
    assert(Seq(s1, s2, s3) === Seq(1L, 2L, 3L))
    assert(Datalake.readTable(spark, out).count() === 35)
    // hourly partition directories exist (hour(timestamp) spec)
    val hours = Datalake.readTable(spark, out).select("p_key").distinct().count()
    assert(hours > 1)

    val expired = Datalake.expireSnapshots(spark, out, keepLast = 2)
    assert(expired === Seq(1L))
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(2L, 3L))
    assert(Datalake.readTable(spark, out).count() === 25) // snapshot 1's 10 rows physically gone
  }

  test("a crashed metadata version (no _SUCCESS) is skipped by readers and overwritten by the next write") {
    val out = tmp("dlcrash")
    Datalake.commit(mkRows(0 until 10), col("timestamp"), out) // metadata v=1
    // Simulate a crash mid-metadata-write: a partial v=2 dir whose
    // _SUCCESS marker never landed.
    val partial = s"$out/snapshots/v=2"
    Seq((999L, 0L, 0L)).toDF("snapshot_id", "committed_at_ms", "n_rows")
      .coalesce(1).write.parquet(partial)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$partial/_SUCCESS"), false)
    // Readers must ignore the partial version — phantom snapshot 999 invisible.
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(1L))
    // The next commit targets v=2 again and harmlessly overwrites the wreck.
    Datalake.commit(mkRows(10 until 15), col("timestamp"), out)
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(Datalake.readTable(spark, out).count() === 15)
    // Expiry commits through the same versioned path and stays readable.
    Datalake.expireSnapshots(spark, out, keepLast = 1)
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(2L))
    assert(Datalake.readTable(spark, out).count() === 5)
  }

  test("commit of an empty batch records n_rows=0; a crash-retried snapshot id does not duplicate rows") {
    val out = tmp("dledge")
    val s1 = Datalake.commit(mkRows(0 until 0), col("timestamp"), out)
    assert(Datalake.snapshots(spark, out).select("n_rows").as[Long].collect().toSeq === Seq(0L))
    assert(s1 === 1L)
    // Simulate a crash between data write and metadata commit: orphan
    // rows already sit under the id the retry will reuse (snapshot 2).
    mkRows(0 until 7).withColumn("p_key", lit("2024-01-01-00"))
      .withColumn("snapshot_id", lit(2L))
      .write.mode("append").partitionBy("snapshot_id", "p_key").parquet(s"$out/data")
    Datalake.commit(mkRows(0 until 7), col("timestamp"), out)
    // The retry must publish exactly the 7 committed rows, not 14.
    assert(Datalake.readTable(spark, out).count() === 7)
  }

  test("multiplexer routes rows to per-output hour-partitioned tables") {
    val base = tmp("mux")
    val rows = mkRows(0 until 20).withColumn("kind",
      when(col("offset") % 3 === 0, "a").otherwise("b"))
    val written = Datalake.writeMultiplexed(rows, concat(lit("t_"), col("kind")),
      col("timestamp"), base)
    assert(written.toMap === Map("t_a" -> 7L, "t_b" -> 13L))
    assert(spark.read.parquet(s"$base/t_a").count() === 7)
    assert(spark.read.parquet(s"$base/t_b").where(col("p_key").isNotNull).count() === 13)
  }

  /** Registry-framed rows: offset i, hour i / 6 % 3, route t_a (even i) or
    * t_b, and by `defect(i)` a bad magic byte (0), an unregistered schema
    * id (1), a registered but incompatible id (2) or a valid id (else). */
  private def framed(ids: Seq[Int], defect: Int => Int = _ % 6): DataFrame = ids.map { i =>
    val env = defect(i) match {
      case 0 => Array[Byte](1, 0, 0, 0, 1)
      case 1 => Array[Byte](0, 0, 0, 0, 99)
      case 2 => Array[Byte](0, 0, 0, 0, 7)
      case _ => Array[Byte](0, 0, 0, 0, 1)
    }
    (i.toLong, s"2024-01-01 0${i / 6 % 3}:00:00", env ++ s"v$i".getBytes, if (i % 2 == 0) "a" else "b")
  }.toDF("offset", "ts_s", "value", "kind")
    .withColumn("timestamp", col("ts_s").cast("timestamp")).drop("ts_s")

  private val errorOf = Map(0 -> "bad_input", 1 -> "translation_error", 2 -> "incompatible_schema")
  private def routeOf(i: Int) = if (i % 2 == 0) "t_a" else "t_b"

  private def muxDlq(batch: DataFrame, base: String) =
    Datalake.writeMultiplexedWithDlq(batch, concat(lit("t_"), col("kind")), col("timestamp"),
      base, col("value"), registered = Seq(1, 7), incompatible = Seq(7))

  private def offsets(path: String) =
    spark.read.parquet(path).select("offset").as[Long].collect().toSet

  test("multiplexer with DLQ: counts equal a groupBy oracle; every row lands in its table or error code") {
    val base = tmp("muxdlq")
    val ids = 0 until 60
    val written = muxDlq(framed(ids).repartition(3), base)
    val oracle = ids.groupBy(i => if (errorOf.contains(i % 6)) Datalake.DlqDir else routeOf(i))
      .map { case (t, is) => t -> is.size.toLong }
    assert(written.toMap === oracle)
    assert(written.map(_._1) === Seq("t_a", "t_b", Datalake.DlqDir))
    for (t <- Seq("t_a", "t_b")) {
      assert(offsets(s"$base/$t") ===
        ids.filter(i => !errorOf.contains(i % 6) && routeOf(i) == t).map(_.toLong).toSet)
      assert(spark.read.parquet(s"$base/$t").columns.toSet ===
        Set("offset", "value", "kind", "timestamp", "p_key"))
    }
    val dlq = spark.read.parquet(s"$base/${Datalake.DlqDir}")
      .select("offset", "error_code", "_output").as[(Long, String, String)].collect()
    assert(dlq.length === 30)
    assert(dlq.toSet === ids.collect { case i if errorOf.contains(i % 6) =>
      (i.toLong, errorOf(i % 6), routeOf(i)) }.toSet)
  }

  test("multiplexer: an empty batch returns no outputs, writes no table and does not block") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val inputs = Seq(
      framed(Nil),
      framed(0 until 6).where(lit(false)),
      spark.range(0).select(col("id").as("offset"), lit(Array[Byte](0, 0, 0, 0, 1)).as("value"),
        lit("a").as("kind"), current_timestamp().as("timestamp")))
    for (in <- inputs) {
      val base = tmp("muxempty")
      assert(Await.result(Future(muxDlq(in, base)), 2.minutes) === Seq())
      assert(Await.result(Future(Datalake.writeMultiplexed(in, col("kind"), col("timestamp"),
        base)), 2.minutes) === Seq())
      assert(new java.io.File(base).list().isEmpty)
    }
  }

  test("multiplexer: an all-DLQ batch writes only the DLQ; a clean batch writes no DLQ") {
    val allBad = tmp("muxbad")
    assert(muxDlq(framed(0 until 12, _ % 3), allBad) === Seq(Datalake.DlqDir -> 12L))
    assert(new java.io.File(allBad).list().toSet === Set(Datalake.DlqDir))
    val clean = tmp("muxclean")
    assert(muxDlq(framed(0 until 12, _ => 3), clean) === Seq("t_a" -> 6L, "t_b" -> 6L))
    assert(new java.io.File(clean).list().toSet === Set("t_a", "t_b"))
  }

  test("multiplexer: a valid row with a null route fails the call before anything is written") {
    val base = tmp("muxnull")
    val route = when(col("offset") =!= 7, concat(lit("t_"), col("kind")))
    intercept[IllegalArgumentException](Datalake.writeMultiplexed(framed(0 until 12), route,
      col("timestamp"), base))
    assert(new java.io.File(base).list().isEmpty)
  }

  test("multiplexer writes exactly one file per (output, p_key) directory") {
    val base = tmp("muxfiles")
    val in = framed(0 until 60).repartition(4)
    assert(in.rdd.getNumPartitions === 4)
    muxDlq(in, base)
    val dirs = Files.list(Paths.get(base)).iterator.asScala.toSeq
      .flatMap(t => Files.list(t).iterator.asScala.filter(Files.isDirectory(_)))
    assert(dirs.size === 9) // t_a, t_b and _dlq, three hours each
    for (d <- dirs)
      assert(Files.list(d).iterator.asScala.count(_.toString.endsWith(".parquet")) === 1, d)
  }

  test("multiplexer runs 6 Spark jobs over an input with one upstream shuffle") {
    // the upstream shuffle, the p_key shuffle, the pin, one write per
    // table (t_a, t_b, _dlq): the counts come from observations, not jobs
    val in = framed(0 until 60).repartition(3, col("offset"))
    assert(jobsDuring(muxDlq(in, tmp("muxjobs"))).size === 6)
  }

  test("multiplexer jobs carry the caller's job group") {
    val sc = spark.sparkContext
    val jobs = jobsDuring {
      sc.setJobGroup("g", "multiplex")
      try muxDlq(framed(0 until 60), tmp("muxgroup")) finally sc.clearJobGroup()
    }
    assert(jobs.nonEmpty)
    assert(jobs.map(_.getProperty("spark.jobGroup.id")).toSet === Set("g"))
  }

  test("multiplexer: a failing leg fails the call only after every other leg has finished") {
    val base = tmp("muxfail")
    Files.write(Paths.get(base, "t_a"), Array[Byte](1)) // not a directory: its write fails
    intercept[Exception](muxDlq(framed(0 until 60), base))
    for (t <- Seq("t_b", Datalake.DlqDir))
      assert(Files.exists(Paths.get(base, t, "_SUCCESS")), t)
    assert(offsets(s"$base/t_b").size === 20)
  }

  private val inputSchema = StructType(Seq(
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("v", StringType)))

  test("transform lifecycle: deploy processes, pause retains checkpoint, resume picks up only new rows") {
    val in = tmp("t_in"); val outDir = tmp("t_out"); val ckpt = tmp("t_ckpt")
    mkRows(0 until 10).select("offset", "timestamp", "v")
      .write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[String]("mirror",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")))
    val q1 = Transforms.deploy(spark, spec, ckpt, outDir)
    q1.awaitTermination()
    assert(spark.read.parquet(outDir).count() === 10)
    assert(Transforms.pause(spark, "mirror") === false) // AvailableNow already finished

    // append more input while paused; resume processes ONLY the new rows
    mkRows(10 until 15).select("offset", "timestamp", "v")
      .write.mode("append").parquet(in)
    val q2 = Transforms.deploy(spark, spec, ckpt, outDir)
    q2.awaitTermination()
    val vals = spark.read.parquet(outDir).as[String].collect().toSeq
    assert(vals.length === 15)             // no double-processing of the first 10
    assert(vals.toSet === (0 until 15).map(i => s"v$i").toSet)
  }

  test("FromEnd skips the pre-deploy log; FromTimestamp starts at the timestamp") {
    val in = tmp("e_in"); val outDir = tmp("e_out"); val ckpt = tmp("e_ckpt")
    mkRows(0 until 8).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[String]("from_end",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")),
      start = Transforms.FromEnd)
    // hwm snapshot at deploy = 7, so the first run emits nothing...
    Transforms.deploy(spark, spec, ckpt, outDir).awaitTermination()
    // ...but rows appended after deploy are processed on resume
    mkRows(8 until 12).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    Transforms.deploy(spark, spec.copy(start = Transforms.FromCommitted), ckpt, outDir)
      .awaitTermination()
    val got = spark.read.parquet(outDir).as[String].collect().toSet
    assert(got === Set("v8", "v9", "v10", "v11"))

    val outTs = tmp("ts_out"); val ckptTs = tmp("ts_ckpt")
    val specTs = Transforms.TransformSpec[String]("from_ts",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")),
      start = Transforms.FromTimestamp(
        java.sql.Timestamp.valueOf("2024-01-01 06:00:00").getTime))
    Transforms.deploy(spark, specTs, ckptTs, outTs).awaitTermination()
    val gotTs = spark.read.parquet(outTs).as[String].collect().toSet
    // hours 06..11 of the 12 appended rows (0..11 map to hours 0..11)
    assert(gotTs === (6 until 12).map(i => s"v$i").toSet)
  }

  test("transform delete drops committed progress; redeploy reprocesses from scratch") {
    val in = tmp("d_in"); val outDir = tmp("d_out"); val ckpt = tmp("d_ckpt")
    mkRows(0 until 6).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[String]("deleteme",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")))
    Transforms.deploy(spark, spec, ckpt, outDir).awaitTermination()
    assert(spark.read.parquet(outDir).count() === 6)
    assert(Transforms.delete(spark, "deleteme", ckpt))
    // Redeploy after delete is a NEW transform instance: with progress
    // gone it reprocesses ALL input (a paused-then-resumed one would
    // process none — see the lifecycle test above).
    val outDir2 = tmp("d_out2")
    Transforms.deploy(spark, spec, ckpt, outDir2).awaitTermination()
    assert(spark.read.parquet(outDir2).count() === 6)
  }

  test("multi-output transform fans out to per-table paths under one checkpoint") {
    val in = tmp("m_in"); val base = tmp("m_base"); val ckpt = tmp("m_ckpt")
    mkRows(0 until 9).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[(String, String)]("fanout",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => {
        val v = r.getAs[String]("v")
        val route = if (r.getAs[Long]("offset") % 2 == 0) "evens" else "odds"
        Seq((route, v))
      })
    Transforms.deployMulti(spark, spec, ckpt, base).awaitTermination()
    assert(spark.read.parquet(s"$base/evens").count() === 5)
    assert(spark.read.parquet(s"$base/odds").count() === 4)
  }

  private def fanout(tag: String): (String, String, Transforms.TransformSpec[(String, String)]) = {
    val in = tmp(s"${tag}_in"); val base = tmp(s"${tag}_base")
    mkRows(0 until 9).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    (base, tmp(s"${tag}_ckpt"), Transforms.TransformSpec[(String, String)](tag,
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) =>
        Seq((Seq("evens", "odds", "thirds")(r.getAs[Long]("offset").toInt % 3), r.getAs[String]("v")))))
  }

  test("multi-output transform: every job of a trigger carries the stream's job group") {
    val (base, ckpt, spec) = fanout("fanout_group")
    var runId = ""
    val jobs = jobsDuring {
      val q = Transforms.deployMulti(spark, spec, ckpt, base)
      runId = q.runId.toString
      q.awaitTermination()
    }
    assert(jobs.size >= 4) // outputs plus one write per table
    assert(jobs.map(_.getProperty("spark.jobGroup.id")).toSet === Set(runId))
  }

  test("multi-output transform: a failing output fails the query only after the others committed") {
    val (base, ckpt, spec) = fanout("fanout_fail")
    Files.write(Paths.get(base, "evens"), Array[Byte](1)) // not a directory: its write fails
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Transforms.deployMulti(spark, spec, ckpt, base).awaitTermination())
    for (t <- Seq("odds", "thirds"))
      assert(Files.exists(Paths.get(base, t, "_SUCCESS")), t)
  }
}
