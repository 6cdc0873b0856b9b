package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.{Datalake, Transforms}
import graft.wasm.{GuestModules, TransformAbi, WasmModule, WasmTransform}

/**
 * `lake`: a closed-loop catch-up over a parquet topic of registry-framed
 * records, one chunk file per trigger, read through
 * [[Transforms.PathInput]] by one long-running streaming query. Each
 * micro-batch runs the [[GuestModules.oddEvenRouter]] guest through
 * [[WasmTransform]] and hands its output to
 * [[Datalake.writeMultiplexedWithDlq]], which appends per-output,
 * hour-partitioned tables plus the dead-letter table.
 *
 * An operation moves the next staged chunk into the input directory and
 * waits until the query has committed it.
 */
final class Lake(spark: SparkSession, tracer: Tracer, seed: Long, checks: Checks)
    extends Workload {
  import Lake._

  private val sc = spark.sparkContext

  private var dir: String = _
  private var query: StreamingQuery = _
  private var expected: IndexedSeq[Map[(String, String), (Long, Long)]] = _
  private var fed = 0
  private var startMs = 0.0
  private val batchCounts = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]()
  private val timedBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private var timedChunks = Seq.empty[Int]
  private var outputs = Seq.empty[Double]
  private var dlqRows = Map.empty[String, Double]

  /** Event time is the key's first 8 bytes, the chunk its next 4. */
  private val eventTime: Column =
    timestamp_millis(conv(hex(substring(col("key"), 1, 8)), 16, 10).cast("long"))
  private val chunkOf: Column = conv(hex(substring(col("key"), 9, 4)), 16, 10).cast("int")

  def setup(d: String): Unit = {
    dir = d
    val gen = new Gen.LakeGen(seed)
    val chunks = (0 until Chunks).map(gen.chunk)
    // per chunk: (table, error code) -> (rows, xor of xxhash64(key, value))
    expected = chunks.map { rows =>
      rows.groupBy(r => if (r.errorCode == null) (r.output, "") else (Datalake.DlqDir, r.errorCode))
        .map { case (k, rs) => k -> ((rs.size.toLong, rs.map(r => Gen.kvHash(r.key, r.value)).foldLeft(0L)(_ ^ _))) }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(chunks.zipWithIndex.flatMap {
        case (rows, c) => rows.map(r => Row(c, r.partition, r.offset, r.timestamp, r.key, r.value))
      }, 8), StructType(StructField("chunk", IntegerType) +: InputSchema.fields))
      .repartition(Chunks, col("chunk"))
      .write.partitionBy("chunk").parquet(s"$dir/staged")
    Files.createDirectories(Paths.get(s"$dir/in"))
    fed = 0
    val t0 = System.nanoTime()
    query = Transforms.PathInput(s"$dir/in", InputSchema, maxFilesPerTrigger = Some(1))
      .stream(spark).writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Option(tracer.streamOp.get).foreach(o => sc.setLocalProperty(Tracer.OpKey, o.toString))
        if (tracer.recording) timedBatches.add(batchId)
        val routed = WasmTransform(batch, GuestModules.oddEvenRouter)
        val counts = tracer.span("streaming.multiplex", sc) {
          Datalake.writeMultiplexedWithDlq(routed, coalesce(col("topic"), lit("main")),
            eventTime, s"$dir/out", col("value"), Registered, Incompatible)
        }
        batchCounts.add(counts)
        sc.setLocalProperty(Tracer.OpKey, null)
        ()
      }
      .start()
    Tracer.await(10000)(!tracer.queryStarts.isEmpty)
    startMs = (System.nanoTime() - t0) / 1e6
    (0 until WarmupChunks).foreach(_ => trigger())
  }

  private def trigger(): Boolean = {
    if (fed >= Chunks) return false
    val c = fed
    fed += 1
    val staged = Files.list(Paths.get(s"$dir/staged/chunk=$c")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    batchCounts.clear()
    val res = tracer.op("trigger", sc) {
      tracer.streamOp.set(tracer.currentOp(sc))
      Files.move(staged, Paths.get(f"$dir/in/$c%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      batchCounts.asScala.toSeq
    } { batches =>
      val want = expected(c).toSeq.map { case ((t, _), (n, _)) => t -> n }
        .groupMapReduce(_._1)(_._2)(_ + _)
      batches.size == 1 && batches.head.toMap == want
    }
    tracer.streamOp.set(null)
    if (tracer.recording) {
      timedChunks :+= c
      res.foreach(b => outputs :+= b.head.size.toDouble)
    }
    true
  }

  override def beforeRun(): Unit = { timedBatches.clear(); timedChunks = Nil; outputs = Nil }

  def run(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs && trigger()) ()

  def verify(): Unit = {
    query.stop()
    checks.check("lake query ended without error", query.exception.isEmpty)
    // every fed chunk's rows, per output table and error code, are exactly
    // the generator's
    def table(t: String) = spark.read.parquet(s"$dir/out/$t")
    val got = (Seq("main", "odd").map(t => table(t).select(lit(t).as("t"), lit("").as("e"),
        col("key"), col("value"))) :+
      table(Datalake.DlqDir).select(lit(Datalake.DlqDir).as("t"), col("error_code").as("e"),
        col("key"), col("value")))
      .reduce(_ unionByName _)
      .groupBy(chunkOf.as("c"), col("t"), col("e"))
      .agg(count(lit(1)), bit_xor(xxhash64(col("key"), col("value"))))
      .collect().map(r => (r.getInt(0), (r.getString(1), r.getString(2))) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    val want = (0 until fed).flatMap(c => expected(c).map { case (k, v) => (c, k) -> v }).toMap
    checks.check("lake outputs and dead-letter rows equal the generator", got == want)
    dlqRows = got.toSeq.collect {
      case ((c, (Datalake.DlqDir, e)), (n, _)) if timedChunks.contains(c) => e -> n.toDouble
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def endToEnd(ops: Seq[Op]): Map[String, Double] = {
    val triggers = ops.filter(o => o.kind == "trigger" && o.done)
    Map("op_p50_ms" -> Stats.median(triggers.map(_.ms)),
      "records_s" -> triggers.size * RowsPerChunk / Stats.spanS(triggers))
  }

  def perLayer(ops: Seq[Op], windowS: Double): Map[String, Double] = {
    Tracer.await(5000)(tracer.progress.asScala.count(p => timedBatches.contains(p.batchId)) >=
      timedBatches.size)
    val prog = tracer.progress.asScala.toSeq.filter(p => timedBatches.contains(p.batchId))
    def phase(n: String) = Stats.median(prog.flatMap(p => Option(p.durationMs.get(n)).map(_.toDouble)))
    val (in, out, ns) = wasmMicro()
    Map(
      "streaming.triggers" -> ops.count(_.kind == "trigger").toDouble,
      "streaming.start_ms" -> startMs,
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.multiplex_ms" -> Stats.median(tracer.selfTimesMs.getOrElse("streaming.multiplex", Nil)),
      "streaming.outputs_per_trigger" -> Stats.median(outputs),
      "streaming.dlq_rows.bad_input" -> dlqRows.getOrElse("bad_input", 0.0),
      "streaming.dlq_rows.translation_error" -> dlqRows.getOrElse("translation_error", 0.0),
      "streaming.dlq_rows.incompatible_schema" -> dlqRows.getOrElse("incompatible_schema", 0.0),
      "streaming.checkpoint_mb" -> Fs.dirSizeMb(s"$dir/ckpt"),
      "wasm.records_in" -> in, "wasm.records_out" -> out, "wasm.ns_per_record" -> ns)
  }

  /** Direct [[TransformAbi.runModule]] calls on one chunk's batches:
    * (records in, records out, ns per input record). */
  private def wasmMicro(): (Double, Double, Double) = {
    val rows = new Gen.LakeGen(seed).chunk(0)
    val module = WasmModule.decode(GuestModules.oddEvenRouter)
    val batches = rows.groupBy(_.partition).values.toSeq.flatMap { rs =>
      rs.sortBy(_.offset).grouped(WasmTransform.DefaultRecordsPerBatch).map { g =>
        val header = TransformAbi.BatchHeader(g.head.offset, g.size, 0, 0, g.size - 1,
          g.head.timestamp, g.map(_.timestamp).max, -1L, -1, -1)
        TransformAbi.position(header, g.zipWithIndex.map { case (r, i) =>
          graft.functions.RecordBatchCodec.Rec(i, r.timestamp - g.head.timestamp, r.key, r.value, Nil)
        })
      }
    }
    var out = 0
    val t0 = System.nanoTime()
    (0 until 3).foreach { _ => out = TransformAbi.runModule(module, batches.iterator)._1.size }
    (rows.size.toDouble, out.toDouble, (System.nanoTime() - t0).toDouble / (3 * rows.size))
  }
}

object Lake {
  // inputs: registry-framed values of MinValue..MaxValue bytes; schema ids
  // Registered are known to the registry, Incompatible of them fail the
  // compatibility check, Unregistered are unknown
  val Partitions = 4
  val RowsPerChunk = 3000
  val MinValue = 200
  val MaxValue = 400
  val BadInputShare = 0.02
  val TranslationShare = 0.015
  val IncompatibleShare = 0.01
  val Registered = Seq(1, 2, 3, 4)
  val Incompatible = Seq(4)
  val Unregistered = Seq(90, 91, 92)
  val Chunks = 72
  val WarmupChunks = 1
  val InputSchema: StructType = StructType(Seq(StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", LongType),
    StructField("key", BinaryType), StructField("value", BinaryType)))
}

object Fs {
  /** Total size of the regular files under `dir`, in MB. */
  def dirSizeMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6
      finally s.close()
    }
  }
}
