package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.log.RecordLog

/**
 * S1 streaming produce path: continuous append with dense per-partition
 * offsets. Each micro-batch lands on the topic's current high
 * watermarks, exactly the reference's per-partition append
 * (`storage/disk_log_appender.h`, `produce.cc:176`): read hwm (one tiny
 * aggregate over the existing log's parquet footers), stamp
 * `hwm + local rank`, append. Offset assignment is serialized per
 * partition *across* micro-batches by the stream's own sequencing —
 * micro-batches commit in order — which is the same guarantee raft
 * replication gives the reference's appends.
 */
object Produce {

  private val hwmSchema = StructType(Seq(
    StructField("partition", IntegerType), StructField("hwm", LongType)))

  /** Current high watermarks of the topic table; empty when the table
    * doesn't exist yet (or holds no data files). */
  def highWatermarks(spark: SparkSession, outPath: String): DataFrame =
    try RecordLog.latestOffsets(spark.read.parquet(outPath))
      .select(col("partition"), col("hwm").cast("long"))
    catch { case _: org.apache.spark.sql.AnalysisException =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hwmSchema)
    }

  /**
   * Deploy the continuous producer: every micro-batch of `input` is
   * offset-stamped on top of the live hwm and appended to `outPath`.
   *
   * The per-partition high watermark is kept in coordinator state across
   * micro-batches (the reference keeps it in the partition leader's
   * in-memory log state, `storage/disk_log_impl.h`): seeded ONCE from the
   * existing table at deploy, then advanced by each batch's per-partition
   * row count. Per-batch cost is one tiny aggregate over the batch — not
   * a metadata scan of the whole log, which grows with topic size.
   * Delivery matches the previous footer-rescan variant: micro-batches
   * commit in order, and a post-crash batch replay appends again either
   * way (at-least-once, as with any non-transactional sink).
   *
   * `timestampType` applies the topic's `message.timestamp.type` knob on
   * append (`model/timestamp.h:30`): under LogAppendTime every record of
   * a micro-batch gets `appendClock()` — the broker clock sampled once
   * per batch, the reference's batch-level append stamp — as its
   * `timestamp`, through [[RecordLog.stampTimestamp]]; under CreateTime
   * (default) records keep whatever the producer supplied.
   */
  def appendStream(
      spark: SparkSession,
      input: Transforms.Input,
      outPath: String,
      checkpointDir: String,
      partitionCol: Column,
      arrivalCol: Column,
      timestampType: String = "CreateTime",
      appendClock: () => Column = () => current_timestamp()): StreamingQuery = {
    val state = scala.collection.mutable.Map.empty[Int, Long] // partition -> hwm
    var seeded = false
    input.stream(spark).writeStream
      .queryName(s"produce:$outPath")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        if (!seeded) {
          highWatermarks(s, outPath).collect()
            .foreach(r => state(r.getInt(0)) = r.getLong(1))
          seeded = true
        }
        val counts = batch.groupBy(partitionCol.cast("int").as("partition"))
          .agg(count(lit(1)).as("n")).collect()
        val hwm = state.toSeq.toDF("partition", "hwm")
        val stamped =
          if (timestampType == "LogAppendTime")
            RecordLog.stampTimestamp(batch, timestampType, col("timestamp"), appendClock())
          else batch
        RecordLog.appendBatch(stamped, hwm, partitionCol, arrivalCol)
          .write.mode("append").parquet(outPath)
        counts.foreach(r =>
          state(r.getInt(0)) = state.getOrElse(r.getInt(0), 0L) + r.getLong(1))
      }
      .start()
  }

  /**
   * One micro-batch of the EXACTLY-ONCE produce path: the batch lands in
   * its own `batch=<id>` directory, committed by the parquet writer's
   * `_SUCCESS` marker, and a redelivered batch id whose marker already
   * exists is SKIPPED — offsets are not re-assigned, rows are not
   * re-appended. batchId is Structured Streaming's replay-stable batch
   * number, so crash-replays hit the committed marker and become no-ops:
   * at-least-once delivery + idempotent commit = exactly-once, the same
   * two-piece construction as the reference's idempotent producer
   * (producer id + sequence dedup over at-least-once retries).
   *
   * Returns the rows appended by THIS call (0 for a duplicate). The
   * per-partition HWM state advances only on first commit.
   */
  def appendBatchExactlyOnce(batch: DataFrame, batchId: Long, outPath: String,
      state: scala.collection.mutable.Map[Int, Long],
      partitionCol: Column, arrivalCol: Column): Long = {
    val s = batch.sparkSession
    import s.implicits._
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val batchDir = new org.apache.hadoop.fs.Path(s"$outPath/batch=$batchId")
    val marker = new org.apache.hadoop.fs.Path(batchDir, "_SUCCESS")
    if (fs.exists(marker)) return 0L // duplicate delivery: committed, skip
    val counts = batch.groupBy(partitionCol.cast("int").as("partition"))
      .agg(count(lit(1)).as("n")).collect()
    val hwm = state.toSeq.toDF("partition", "hwm")
    // a half-written (crashed, no marker) attempt is overwritten whole
    RecordLog.appendBatch(batch, hwm, partitionCol, arrivalCol)
      .write.mode("overwrite").parquet(batchDir.toString)
    counts.foreach(r =>
      state(r.getInt(0)) = state.getOrElse(r.getInt(0), 0L) + r.getLong(1))
    counts.map(_.getLong(1)).sum
  }

  /**
   * Deploy the exactly-once continuous producer: [[appendStream]]'s
   * coordinator-HWM design with [[appendBatchExactlyOnce]] as the batch
   * commit. The log lives under `outPath/batch=N/` directories; readers
   * `spark.read.parquet(outPath)` and see each record exactly once no
   * matter how many times a batch was delivered.
   */
  def appendStreamExactlyOnce(
      spark: SparkSession,
      input: Transforms.Input,
      outPath: String,
      checkpointDir: String,
      partitionCol: Column,
      arrivalCol: Column): StreamingQuery = {
    val state = scala.collection.mutable.Map.empty[Int, Long]
    var seeded = false
    input.stream(spark).writeStream
      .queryName(s"produce-eo:$outPath")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!seeded) {
          highWatermarks(batch.sparkSession, outPath).collect()
            .foreach(r => state(r.getInt(0)) = r.getLong(1))
          seeded = true
        }
        appendBatchExactlyOnce(batch, batchId, outPath, state,
          partitionCol, arrivalCol)
        ()
      }
      .start()
  }
}
