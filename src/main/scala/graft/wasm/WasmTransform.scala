package graft.wasm

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.RecordBatchCodec.Rec
import TransformAbi.{BatchHeader, BatchIn, Emitted}

/**
 * Distributed execution of a `.wasm` transform over a record table —
 * the engine loop of `transform/transform_processor.cc` re-expressed
 * on Spark: the reference runs one VM per partition processor fed by
 * a log reader; here each executor task instantiates the guest from
 * broadcast module bytes and feeds it that task's slice of the log,
 * batch by batch, through the [[TransformAbi]] host module.
 *
 * Scale shape: records are hash-distributed by Kafka partition and
 * sorted (partition, offset) within tasks, so one VM sees one
 * partition's records in offset order, mirroring the reference's
 * per-partition processors. A fresh VM is instantiated every
 * `recordsPerRun` records — the guest keeps cross-batch state within
 * a run (as the reference's long-lived VM does) while bounding the
 * task's output buffer; at 100 TB the bound is what keeps executor
 * memory flat, and the run boundary is the documented divergence from
 * the reference's process-lifetime VM.
 *
 * The row encoders are built once per JVM, not derived by reflection on
 * every call: a streaming caller plans this transform every trigger.
 */
object WasmTransform {

  final case class In(partition: Int, offset: Long, timestamp: Long,
      key: Array[Byte], value: Array[Byte])
  final case class Out(partition: Int, batch_index: Int, seq: Int,
      topic: String, key: Array[Byte], value: Array[Byte])

  private val InEncoder: Encoder[In] = Encoders.product[In]
  private val OutEncoder: Encoder[Out] = Encoders.product[Out]

  val DefaultRecordsPerBatch = 256
  val DefaultRecordsPerRun = 8192

  /** Executor-local decoded-module cache (the reference's engine cache,
    * `wasm/cache.cc`: one compiled module shared by every processor on
    * a shard): instances are per-run (they own mutable memory) but the
    * decode happens once per executor per module. */
  private val moduleCache =
    new java.util.concurrent.ConcurrentHashMap[Long, WasmModule.Module]()

  private[wasm] def decoded(bytes: Array[Byte]): WasmModule.Module = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    moduleCache.computeIfAbsent(h ^ bytes.length.toLong,
      _ => WasmModule.decode(bytes))
  }

  /** Build the batch feed for one partition's offset-ordered records:
    * contiguous chunks become CreateTime batches whose header fields
    * follow the produce path's assignment rules. */
  private def toBatches(rows: Iterator[In], perBatch: Int): Iterator[BatchIn] =
    rows.grouped(perBatch).map { chunk =>
      val base = chunk.head.offset
      val firstTs = chunk.head.timestamp
      val maxTs = chunk.map(_.timestamp).max
      val header = BatchHeader(base, chunk.size, 0, 0, chunk.size - 1,
        firstTs, maxTs, -1L, -1, -1)
      TransformAbi.position(header, chunk.zipWithIndex.map { case (r, i) =>
        Rec(i, r.timestamp - firstTs, r.key, r.value, Nil)
      })
    }

  /**
   * Run the guest over `(partition, offset, timestamp, key, value)`
   * rows; returns `(partition, batch_index, seq, topic, key, value)`
   * where `topic` is null for the default output and `seq` is the
   * guest's emit order within its partition run.
   */
  /** `extraHostFactory` builds additional host modules PER TASK (it
    * runs on executors, so it must close over serializable state only
    * — e.g. the schema list a per-task [[graft.registry.RestApi.Server]]
    * is rebuilt from, mirroring how every shard holds its own SR
    * replica in the reference). */
  def apply(input: DataFrame, moduleBytes: Array[Byte],
      recordsPerBatch: Int = DefaultRecordsPerBatch,
      recordsPerRun: Int = DefaultRecordsPerRun,
      extraHostFactory: Option[() => Map[(String, String), WasmInterp.HostFunc]] =
        None): DataFrame = {
    val bc = input.sparkSession.sparkContext.broadcast(moduleBytes)
    val ds: Dataset[In] = input
      .select(col("partition").cast("int"), col("offset").cast("long"),
        col("timestamp").cast("long"), col("key").cast("binary"),
        col("value").cast("binary"))
      .as(InEncoder)
      .repartition(col("partition"))
      .sortWithinPartitions("partition", "offset")
    ds.mapPartitions { (rows: Iterator[In]) =>
      // consecutive same-partition runs: the sort guarantees each Kafka
      // partition is one contiguous span of the task's iterator
      val extraHost = extraHostFactory.map(_()).getOrElse(
        Map.empty[(String, String), WasmInterp.HostFunc])
      val src = rows.buffered
      new Iterator[Out] {
        private var pending: Iterator[Out] = Iterator.empty
        def hasNext: Boolean = pending.hasNext || src.hasNext
        def next(): Out = {
          while (!pending.hasNext && src.hasNext) {
            val p = src.head.partition
            val run = new scala.collection.mutable.ArrayBuffer[In](256)
            while (src.hasNext && src.head.partition == p &&
                run.size < recordsPerRun)
              run += src.next()
            val (emitted, _) = TransformAbi.runModule(decoded(bc.value),
              toBatches(run.iterator, recordsPerBatch), extraHost)
            pending = emitted.iterator.map { e: Emitted =>
              val (k, v) = TransformAbi.parsePayload(e.payload) match {
                case Some((k0, v0, _)) => (k0, v0)
                case None => (null, null) // host validated on write; unreachable
              }
              Out(p, e.batchIndex, e.seq, e.topic.orNull, k, v)
            }
          }
          pending.next()
        }
      }
    }(OutEncoder).toDF()
  }
}
