package graft.streaming

import graft.{Overlap, Pins}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructType, StructField}

/**
 * Data transforms (SURVEY §2.8): the reference's only user-extension
 * point — a per-record flatMap (1 record in, 0..N records out, possibly
 * to multiple output topics), deployed as a managed continuous job.
 *
 * Reference: engine loop `transform/transform_processor.h:78` (consumer /
 * transform / producer loops `:110-114`); deploy/pause/delete management
 * `transform/transform_manager.cc`; offset start options
 * `model/transform.h:90-185`; multi-topic output
 * `model/transform.h:197-228` (output topic list in metadata).
 *
 * Spark design: one named StreamingQuery per transform —
 * `readStream → flatMap → writeStream`, checkpoint = the reference's
 * commit batcher (`transform/commit_batcher.h:127`). Offset start options
 * map to source positioning: FromStart/FromCommitted are the checkpoint
 * semantics (a fresh checkpoint starts from the beginning; an existing
 * one resumes), FromEnd snapshots the input's high watermark at deploy
 * time and skips everything at or below it, FromTimestamp filters on the
 * record timestamp. Multi-output topics route on a per-record output tag
 * inside `foreachBatch` (one cached pass + N filtered appends).
 * Pause/resume = stop/restart by name (`spark.streams`), exactly the
 * reference's transform_manager states.
 */
object Transforms {

  /** Where the transform starts reading (model/transform.h:90-185). */
  sealed trait OffsetStart
  case object FromCommitted extends OffsetStart // resume checkpoint (default)
  case object FromStart extends OffsetStart     // earliest
  case object FromEnd extends OffsetStart       // only records after deploy
  final case class FromTimestamp(tsMillis: Long) extends OffsetStart

  /** Transform input: a catalog table or a parquet path. */
  sealed trait Input {
    def stream(spark: SparkSession): DataFrame
    def batch(spark: SparkSession): DataFrame
  }
  final case class TableInput(name: String) extends Input {
    def stream(spark: SparkSession): DataFrame = spark.readStream.table(name)
    def batch(spark: SparkSession): DataFrame = spark.read.table(name)
  }
  final case class PathInput(path: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None) extends Input {
    def stream(spark: SparkSession): DataFrame = {
      val r = spark.readStream.schema(schema)
      maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
      r.parquet(path)
    }
    def batch(spark: SparkSession): DataFrame = spark.read.parquet(path)
  }

  /** A deployed transform: flatMap over rows, emitting 0..N records. */
  final case class TransformSpec[T](
      name: String,
      input: Input,
      fn: Row => IterableOnce[T],
      start: OffsetStart = FromCommitted)

  /**
   * Batch-mode application (the semantics under test; streaming adds
   * only the trigger). Returns the transformed dataset.
   */
  def applyBatch[T: Encoder](df: DataFrame, fn: Row => IterableOnce[T]): Dataset[T] =
    df.flatMap(fn)

  /** Position the source stream per the start option (U2,
    * `model/transform.h:90-185`). FromEnd and FromTimestamp require
    * `offset` / `timestamp` columns on the input — present on every
    * canonical topic table.
    *
    *  - FromStart: the whole log (a fresh checkpoint reads from earliest).
    *  - FromEnd: snapshot the input's high watermarks at deploy time and
    *    process only records appended after them — per partition when the
    *    input carries a `partition` column (`transform_from_end` stores
    *    one offset per partition, `model/transform.h:118`), globally
    *    otherwise; partitions absent from the snapshot start from 0.
    *  - FromTimestamp: records with `timestamp >= t`
    *    (`model/transform.h:149-160`).
    *  - FromCommitted: resume after per-partition committed offsets when
    *    an explicit commit table `(partition, committed_offset)` is given;
    *    with none, the checkpoint IS the committed state and the stream
    *    passes through (the default deploy path).
    *
    * The HWM / committed tables are bounded metadata (one row per
    * partition) and broadcast; the log side never shuffles.
    */
  def applyStart(spark: SparkSession, input: Input, start: OffsetStart,
      stream: DataFrame, committed: Option[DataFrame] = None): DataFrame = start match {
    case FromStart => stream
    case FromCommitted => committed match {
      case None => stream
      case Some(c) =>
        val offs = c.select(col("partition"), col("committed_offset").as("__coff"))
        stream.join(broadcast(offs), Seq("partition"), "left")
          .where(col("__coff").isNull || col("offset") > col("__coff"))
          .drop("__coff")
    }
    case FromEnd =>
      val b = input.batch(spark)
      if (b.columns.contains("partition")) {
        val hwm = b.groupBy("partition").agg(max("offset").as("__hwm"))
        stream.join(broadcast(hwm), Seq("partition"), "left")
          .where(col("__hwm").isNull || col("offset") > col("__hwm"))
          .drop("__hwm")
      } else {
        val row = b.agg(max("offset")).collect()(0)
        val hwm = if (row.isNullAt(0)) -1L else row.getLong(0)
        stream.where(col("offset") > hwm)
      }
    case FromTimestamp(ms) =>
      stream.where(col("timestamp") >= timestamp_millis(lit(ms)))
  }

  /**
   * Deploy as a named continuous query writing to a single output path.
   * `checkpointDir` carries committed progress across restarts — pausing
   * (stop) and redeploying with the same name/checkpoint resumes exactly
   * after the last committed batch.
   */
  def deploy[T: Encoder](
      spark: SparkSession,
      spec: TransformSpec[T],
      checkpointDir: String,
      outputPath: String): StreamingQuery = {
    val in = applyStart(spark, spec.input, spec.start, spec.input.stream(spark))
    applyBatch(in, spec.fn).writeStream
      .queryName(spec.name)
      .option("checkpointLocation", s"$checkpointDir/${spec.name}")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outputPath)
      .start()
  }

  /**
   * Deploy a multi-output transform: `fn` emits (outputTable, record)
   * pairs; each micro-batch fans out to `basePath/<outputTable>` — the
   * record-multiplexer shape (D1) driven from a transform (U1).
   */
  def deployMulti[T: Encoder](
      spark: SparkSession,
      spec: TransformSpec[(String, T)],
      checkpointDir: String,
      basePath: String): StreamingQuery = {
    implicit val tup: Encoder[(String, T)] =
      Encoders.tuple(Encoders.STRING, implicitly[Encoder[T]])
    val in = applyStart(spark, spec.input, spec.start, spec.input.stream(spark))
    val routed = applyBatch(in, spec.fn)(tup)
    routed.writeStream
      .queryName(spec.name)
      .option("checkpointLocation", s"$checkpointDir/${spec.name}")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[(String, T)], _: Long) =>
        // eager pin, NOT cache(): the distinct-outputs pass and the
        // per-output filtered writes are independent consumers — under
        // AQE they race a lazily-filled InMemoryRelation and recompute the
        // batch (including the guest-VM transform) once each
        Pins.scoped { scope =>
          val df = scope.pin(batch.toDF("_output", "_value"))
          val outputs = df.select("_output").distinct().collect().map(_.getString(0)).sorted
          Overlap.all(outputs.toSeq.map { o => () =>
            val rows = df.where(col("_output") === o)
            val payload = rows.schema("_value").dataType match {
              case _: StructType => rows.select("_value.*")
              case _             => rows.select(col("_value").as("value"))
            }
            payload.write.mode("append").parquet(s"$basePath/$o")
          })
          ()
        }
      }
      .start()
  }

  /** Pause = stop the named query; state is retained in the checkpoint
    * (transform_manager pause semantics). */
  def pause(spark: SparkSession, name: String): Boolean =
    spark.streams.active.find(_.name == name) match {
      case Some(q) => q.stop(); true
      case None    => false
    }

  /** Delete = stop AND drop committed progress; a later deploy with the
    * same name starts from scratch (transform_manager delete semantics —
    * the reference also discards the transform's committed offsets). */
  def delete(spark: SparkSession, name: String, checkpointDir: String): Boolean = {
    pause(spark, name)
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Report running transforms (model/transform.h:320-344 report shape). */
  def report(spark: SparkSession): Seq[(String, String, Boolean)] =
    spark.streams.active.toSeq.map(q => (q.name, q.id.toString, q.isActive))

  /**
   * U4 management-plane fold: replay a deploy/pause/resume/delete command
   * log `(seq, transform, op)` into the final per-transform state — the
   * listing `transform_manager.cc` serves. Replay semantics:
   * deploy (re)creates and runs; pause/resume toggle a live transform and
   * no-op on a missing one; delete removes it (with its committed
   * progress — see [[delete]]); a deploy after a delete is a fresh
   * incarnation. Only transforms alive at the end are listed.
   *
   * The sequential replay collapses to aggregates because final state
   * depends only on the current incarnation's window: ops after the last
   * delete, from its first deploy on. Two keyed aggregate passes over the
   * command log (both shuffles on `transform`, partial-agg absorbed) —
   * no per-transform history is ever buffered, so a transform with a
   * billion commands costs two combines, not a window sort.
   */
  def lifecycle(commandLog: DataFrame): DataFrame = {
    val bounds = commandLog.groupBy("transform").agg(
      coalesce(max(when(col("op") === "delete", col("seq"))), lit(-1L)).as("__last_del"),
      sum(when(col("op") === "deploy", 1L).otherwise(0L)).as("n_deploys"),
      sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes"))
    val current = commandLog.join(bounds, "transform")
      .where(col("seq") > col("__last_del"))
    // first deploy of the surviving incarnation; transforms with no deploy
    // after their last delete are dead and drop out of the inner join
    val deployed = current.where(col("op") === "deploy")
      .groupBy("transform").agg(min(col("seq")).as("deployed_seq"))
    current.join(deployed, "transform")
      .where(col("seq") >= col("deployed_seq") &&
        col("op").isin("deploy", "pause", "resume"))
      .groupBy(col("transform"), col("deployed_seq"),
        col("n_deploys"), col("n_deletes"))
      .agg(max_by(col("op"), col("seq")).as("__last_op"),
        max(col("seq")).as("last_seq"))
      .select(col("transform"),
        when(col("__last_op") === "pause", "paused").otherwise("running").as("state"),
        col("n_deploys"), col("n_deletes"), col("deployed_seq"), col("last_seq"))
  }

  /**
   * U4 error-state report (`model/transform.h:320-344`): fold a processor
   * event log `(seq, transform, partition, kind ['start'|'commit'|'error'],
   * committed_offset)` into per-(transform, partition) status — a
   * processor is `errored` from its last error until a later start/commit,
   * `running` otherwise — plus committed progress and lag against the
   * partition's high watermark. One keyed aggregate over the event log;
   * the HWM table `(partition, hwm)` is one row per partition, broadcast.
   */
  /**
   * G6 commit batcher (`transform/commit_batcher.h:59-76`, key/value
   * shapes `model/transform.h:258-299`): processors enqueue per-record
   * progress for key (transform, partition, output_topic); the batcher
   * flushes ALL pending offsets as ONE batch per fixed interval, so
   * commit traffic scales with keys × intervals, never records — the
   * exact motivation the reference documents (commits "a function of the
   * number of cores ... instead of the number of processors"). Within an
   * interval only the LAST enqueued offset per key survives to the flush
   * (coalescing); earlier enqueues are superseded in the pending map.
   *
   * Fold shape: one groupBy (key, interval) whose map-side combine IS
   * the coalescing — the shuffle carries one row per key per interval,
   * not per progress event — then one groupBy key for the final
   * committed state. The coordinator owning each key is the
   * unsigned-murmur2 route over the internal offsets topic
   * (find_coordinator, `commit_batcher.h:44`; same routing as
   * [[graft.admin.Admin.coordinatorFor]]).
   *
   * Input: progress events `(transform, partition, output_topic, seq,
   * offset)`; a flush interval is `floor(seq / intervalLen)`. Output one
   * row per key: `committed_offset` (the last flush's value),
   * `n_flushes` (batched commit RPCs), `n_enqueued` (progress events
   * coalesced into them), `coordinator`.
   */
  def commitBatcher(progress: DataFrame, intervalLen: Long,
      nCoordinators: Int = 16): DataFrame = {
    require(intervalLen > 0, "intervalLen must be positive")
    graft.functions.GraftFunctions.register(progress.sparkSession)
    val flushed = progress
      .withColumn("__interval", floor(col("seq") / intervalLen))
      .groupBy("transform", "partition", "output_topic", "__interval")
      .agg(max_by(col("offset"), col("seq")).as("__flush_off"),
        count(lit(1)).as("__n_enq"))
    flushed.groupBy("transform", "partition", "output_topic")
      .agg(max_by(col("__flush_off"), col("__interval")).as("committed_offset"),
        count(lit(1)).as("n_flushes"),
        sum("__n_enq").as("n_enqueued"))
      .withColumn("coordinator",
        pmod(expr("murmur2(encode(concat(transform, '/', partition, '/', output_topic), 'UTF-8'))")
          .cast("long").bitwiseAND(lit(0xffffffffL)), lit(nCoordinators)).cast("int"))
  }

  /**
   * [[commitBatcher]]'s STREAMING twin — the shape the reference
   * actually runs (a continuous loop flushing each interval's pending
   * map). The logical clock (`seq`) becomes event time; each flush
   * interval is an event-time window; append mode + watermark emit a
   * (key, interval) flush row exactly once, when the interval closes —
   * the same coalescing guarantee as the batch fold, with bounded state
   * (open windows only, closed ones evicted by the watermark).
   *
   * ONE-SHOT AvailableNow run: after the source drains, the still-open
   * windows (at minimum the final flush interval, which the 0 ms
   * watermark never closes) are flushed from checkpointed state via the
   * state-store reader and appended to `dataPath` — no sentinel event
   * needed, no flush lost. State is bounded by open (key × interval)
   * tuples.
   */
  def commitBatcherStream(progress: DataFrame, dataPath: String,
      ckptPath: String, intervalLen: Long): StreamingQuery = {
    val flushed = progress
      .withColumn("__ts", timestamp_millis(col("seq")))
      .withWatermark("__ts", "0 milliseconds")
      .groupBy(window(col("__ts"), s"$intervalLen milliseconds"),
        col("transform"), col("partition"), col("output_topic"))
      .agg(max_by(col("offset"), col("seq")).as("flush_off"),
        count(lit(1)).as("n_enq"))
      .select(col("transform"), col("partition"), col("output_topic"),
        (unix_millis(col("window.start")) / intervalLen).cast("long").as("interval"),
        col("flush_off"), col("n_enq"))
    val q = flushed.writeStream.outputMode("append")
      .option("checkpointLocation", ckptPath)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", dataPath)
      .start()
    q.awaitTermination()
    // Drop the file sink's _spark_metadata first — readers trust only
    // sink-listed files, so the drained append would otherwise be
    // invisible (one-shot run; the checkpoint owns restart semantics).
    val spark = progress.sparkSession
    val meta = new org.apache.hadoop.fs.Path(dataPath, "_spark_metadata")
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, true)
    // Buffer fields in agg order; max_by expands to two fields
    // (valueWithExtremumOrdering, extremumOrdering), then count.
    val st = spark.read.format("statestore").load(ckptPath)
    val vcols = st.select(col("value.*")).columns
    st.select(col("key.transform").as("transform"),
        col("key.partition").as("partition"),
        col("key.output_topic").as("output_topic"),
        (unix_millis(col("key.window.start")) / intervalLen).cast("long").as("interval"),
        col(s"value.${vcols(0)}").as("flush_off"),
        col(s"value.${vcols(2)}").as("n_enq"))
      .write.mode("append").parquet(dataPath)
    q
  }

  def statusReport(procLog: DataFrame, hwm: DataFrame): DataFrame =
    procLog.groupBy("transform", "partition").agg(
        max_by(col("kind"), col("seq")).as("__last_kind"),
        max(when(col("kind") === "commit", col("committed_offset")))
          .as("last_committed"),
        sum((col("kind") === "error").cast("long")).as("n_errors"))
      .join(broadcast(hwm), Seq("partition"))
      .select(col("transform"), col("partition"),
        when(col("__last_kind") === "error", "errored")
          .otherwise("running").as("status"),
        col("last_committed"),
        (col("hwm") - coalesce(col("last_committed") + 1, lit(0L))).as("lag"),
        col("n_errors"))
}
