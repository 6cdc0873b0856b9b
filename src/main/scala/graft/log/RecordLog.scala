package graft.log

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The produce/fetch/offset-query surface of the engine (SURVEY §2.1, §2.3).
 *
 * A "topic" is a table whose rows carry `(partition, offset, ...)` with
 * offsets dense per partition. All operations are declarative DataFrame
 * plans so Catalyst pushes offset/timestamp predicates into the Parquet
 * scan (the Spark analogue of the reference's per-segment offset/time
 * indexes, `storage/segment_index.h`).
 *
 * Scale notes (100 TB): offset assignment is exactly one hash shuffle on the
 * partition column followed by an in-partition sort — the same data movement
 * the reference does when routing a batch to its partition's leader shard
 * (`kafka/server/handlers/produce.cc:435-466`); wire ingest runs that window
 * over batch rows, never records, and decodes each batch once. Fetch and the
 * offset queries are scan+prune only: no shuffle, and `min/max(offset)`
 * aggregations are answered from Parquet row-group statistics after
 * partition pruning.
 */
object RecordLog {

  /**
   * S1 Produce: stamp dense per-partition offsets onto incoming rows, in
   * arrival order (reference: `storage/disk_log_appender.h` assigns
   * base_offset + delta on append; `produce.cc:176` per-partition append).
   *
   * For a steady-state engine appending micro-batches, `base` offsets come
   * from the topic's current high watermarks (see [[appendBatch]]); this
   * full-recompute variant is the bootstrap/replay path.
   */
  def assignOffsets(df: DataFrame, partitionCol: Column, arrivalCol: Column): DataFrame = {
    val w = Window.partitionBy(partitionCol).orderBy(arrivalCol)
    df.withColumn("partition", partitionCol.cast("int"))
      .withColumn("offset", (row_number().over(w) - lit(1)).cast("long"))
  }

  /**
   * Scale-safe two-phase offset assignment. [[assignOffsets]]'s window
   * gives one task per topic partition that must sort that partition's
   * entirety — at 100 TB / few partitions that is a handful of giant
   * single-threaded sorts. Here the caller supplies `chunkCol`, an
   * arrival-ordered sub-division of each partition (every arrival in
   * chunk k sorts before every arrival in chunk k+1 — e.g. a segment id
   * or `floor(arrival / 4096)`; the reference's log is chunked into
   * segments exactly like this, `storage/segment_appender.h`). Then:
   *
   *  phase 1: count rows per (partition, chunk) — a tiny aggregate;
   *           prefix-sum those counts per partition (window over
   *           #partitions × #chunks rows, not over the data) to get each
   *           chunk's base offset;
   *  phase 2: broadcast the bases back and number rows inside each
   *           (partition, chunk) independently.
   *
   * Result is identical to [[assignOffsets]]; parallelism is
   * partitions × chunks instead of partitions.
   */
  def assignOffsetsScalable(
      df: DataFrame, partitionCol: Column, arrivalCol: Column, chunkCol: Column): DataFrame = {
    val tagged = df
      .withColumn("partition", partitionCol.cast("int"))
      .withColumn("__chunk", chunkCol.cast("long"))
    val counts = tagged.groupBy("partition", "__chunk").agg(count(lit(1)).as("__n"))
    val baseW = Window.partitionBy("partition").orderBy("__chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = counts.withColumn("__base", coalesce(sum("__n").over(baseW), lit(0L)))
      .select("partition", "__chunk", "__base")
    val localW = Window.partitionBy("partition", "__chunk").orderBy(arrivalCol)
    tagged.join(broadcast(bases), Seq("partition", "__chunk"))
      .withColumn("offset", (col("__base") + row_number().over(localW) - lit(1)).cast("long"))
      .drop("__chunk", "__base")
  }

  /**
   * S1 wire ingest — the adapt step a produce request's raw Kafka
   * record-batch v2 envelopes go through before append
   * (`kafka/protocol/kafka_batch_adapter.cc`): gate on size/magic
   * (`:31-47` — a truncated or non-v2 buffer rejects the batch, it
   * never reaches field parsing), verify the CRC32-C over the region
   * below the crc field (`:98-128` — mismatch rejects the batch
   * wholesale), decompress-normalize the records section per the
   * attribute codec bits (`storage/parser_utils.cc:50-66`), then stamp
   * broker offsets onto the surviving records in arrival order.
   *
   * `batches` carries one wire envelope per row; `arrivalCol` is the
   * batch's arrival sequence within its partition. Returns one row per
   * ACCEPTED record — `(route='accept', partition, offset, key, value)`
   * with offsets dense per partition, in arrival order and then
   * offset-delta order — plus one row per REJECTED batch (`route` =
   * `crc_reject` or `malformed`, offset -1, key = the arrival seq) so
   * rejects route like the P4/P6 DLQ legs rather than failing the ingest.
   *
   * Scale: each batch decodes once. Its base offset is the running sum of
   * the accepted record counts of earlier arrivals in its partition — one
   * window over batch rows, so the one shuffle moves batches, not records;
   * one generator then emits `base + i` per record, or the reject row.
   */
  def wireIngest(batches: DataFrame, wireCol: Column, partCol: Column,
      arrivalCol: Column): DataFrame = {
    graft.functions.GraftFunctions.register(batches.sparkSession)
    val accepted = col("route") === "accept"
    val earlier = Window.partitionBy("partition").orderBy("_arr")
      .rowsBetween(Window.unboundedPreceding, -1)
    batches
      .select(partCol.cast("int").as("partition"), arrivalCol.cast("long").as("_arr"),
        call_function("kafka_batch_decode", wireCol).as("_d"))
      .select(col("partition"), col("_arr"),
        when(col("_d.base_offset").isNull, lit("malformed"))
          .when(!col("_d.crc_valid"), lit("crc_reject")).otherwise(lit("accept")).as("route"),
        sort_array(col("_d.records")).as("_recs")) // record structs lead with offset_delta
      .withColumn("_base", coalesce(
        sum(when(accepted, size(col("_recs"))).otherwise(0)).over(earlier), lit(0L)))
      // route and partition pass the generator through, so its output keeps
      // the window's partitioning and a writer clustering on `partition`
      // needs no second shuffle
      .select(col("route"), col("partition"), inline(when(accepted,
          transform(col("_recs"), (r, i) => struct((col("_base") + i).as("offset"),
            r("key").as("key"), r("value").as("value"))))
        .otherwise(array(struct(lit(-1L).as("offset"),
          col("_arr").cast("string").cast("binary").as("key"),
          lit(null).cast("binary").as("value"))))))
  }

  /**
   * `message.timestamp.type` semantics, applied on append
   * (`model/timestamp.h:30`; topic knob `cluster/topic_properties.h`):
   * CreateTime keeps the producer-supplied stamp, LogAppendTime
   * overwrites every record's `timestamp` with the broker clock at
   * append. `appendTs` is that clock — `current_timestamp()` in
   * production; correctness scenarios pass a deterministic stamp so the
   * oracle can re-derive it. It must be foldable. Pure column projection
   * — no shuffle, stays inside whole-stage codegen on the produce path.
   *
   * The LogAppendTime clock is bound into generated code by reference
   * (`runtime_constant`), so requests that differ only in their clock
   * reuse one compiled plan. The stamp is therefore not constant-folded:
   * a filter on the stamped `timestamp` runs per row.
   */
  def stampTimestamp(df: DataFrame, timestampType: String,
      producerTs: Column, appendTs: Column): DataFrame =
    timestampType match {
      case "LogAppendTime" =>
        graft.functions.GraftFunctions.register(df.sparkSession)
        df.withColumn("timestamp", call_function("runtime_constant", appendTs))
      case "CreateTime"    => df.withColumn("timestamp", producerTs)
      case other =>
        throw new IllegalArgumentException(s"unknown message.timestamp.type: $other")
    }

  /**
   * Incremental produce: append a new micro-batch on top of existing
   * high watermarks. `hwm` is small (one row per partition) and is
   * broadcast; the batch itself shuffles once on `partition`.
   */
  def appendBatch(batch: DataFrame, hwm: DataFrame, partitionCol: Column, arrivalCol: Column): DataFrame = {
    val w = Window.partitionBy("partition").orderBy(arrivalCol)
    batch
      .withColumn("partition", partitionCol.cast("int"))
      .join(broadcast(hwm), Seq("partition"), "left")
      .withColumn("offset",
        (coalesce(col("hwm"), lit(0L)) + row_number().over(w) - lit(1)).cast("long"))
      .drop("hwm")
  }

  /**
   * S2 Fetch: scan `[fromOffset, hwm)` of one partition, bounded. Mirrors
   * `kafka/server/handlers/fetch.cc:300` (`do_read_from_ntp`); `maxRows`
   * plays the role of the fetch byte budget (`fetch.cc:1434-1437`).
   * Offset + partition predicates push down to Parquet row-group stats.
   */
  def fetch(log: DataFrame, partition: Int, fromOffset: Long, maxRows: Int): DataFrame =
    log.where(col("partition") === partition && col("offset") >= fromOffset)
      .orderBy("offset")
      .limit(maxRows)

  /**
   * S2 fetch response sizing: the per-partition byte budget of a fetch
   * (`kafka/server/handlers/fetch.cc:1434-1437` — `max_bytes` and
   * `strict_max_bytes` on the read plan, enforced by the reader's
   * `over_budget` check in `storage/log_reader.h`). Each partition
   * returns batches from its fetch offset while the bytes accumulated
   * BEFORE a batch stay under `maxBytes`; with `strict = false` (Kafka
   * default) the first batch is always delivered even when it alone
   * exceeds the budget — the progress guarantee that lets consumers with
   * small fetch sizes get past a large batch. `strict = true` caps the
   * response at batches that fit entirely.
   *
   * `fromOffsets` is tiny (one `(partition, fetch_offset)` row per
   * fetched partition) and broadcast. The running byte sum is NOT one
   * monolithic window per partition — the same chunked two-phase shape
   * as [[retainBytes]]: per-(partition, 4096-offset-chunk) byte totals
   * are prefix-summed on the tiny chunk table and broadcast back, so each
   * task ranks only its own chunk. Output adds `sz` (the batch's bytes)
   * and `cum_before` (bytes accumulated before it).
   */
  def fetchBudget(log: DataFrame, fromOffsets: DataFrame, sizeCol: Column,
      maxBytes: Long, strict: Boolean = false): DataFrame = {
    val scoped = log.join(broadcast(fromOffsets), Seq("partition"))
      .where(col("offset") >= col("fetch_offset"))
      .drop("fetch_offset")
      .withColumn("__chunk", floor(col("offset") / 4096).cast("long"))
      .withColumn("sz", sizeCol.cast("long"))
    val chunkAgg = scoped.groupBy("partition", "__chunk").agg(sum("sz").as("__n"))
    val beforeW = Window.partitionBy("partition").orderBy("__chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = chunkAgg
      .withColumn("__base", coalesce(sum("__n").over(beforeW), lit(0L)))
      .select("partition", "__chunk", "__base")
    val localW = Window.partitionBy("partition", "__chunk").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = scoped.join(broadcast(bases), Seq("partition", "__chunk"))
      .withColumn("cum_before",
        col("__base") + coalesce(sum("sz").over(localW), lit(0L)))
    val keep = if (strict) col("cum_before") + col("sz") <= maxBytes
               else col("cum_before") < maxBytes
    cum.where(keep).drop("__chunk", "__base")
  }

  /** Q1 list_offsets(earliest = -2): log start offset per partition
   *  (`kafka/server/handlers/list_offsets.cc:112-126`). */
  def earliestOffsets(log: DataFrame): DataFrame =
    log.groupBy("partition").agg(min("offset").as("earliest"))

  /** Q2 list_offsets(latest = -1): high watermark per partition
   *  (`list_offsets.cc:127-145`). */
  def latestOffsets(log: DataFrame): DataFrame =
    log.groupBy("partition").agg((max("offset") + 1).as("hwm"))

  /**
   * Q1+Q2 in one pass: a real list_offsets request batches many
   * (partition, target) lookups (`kafka/protocol/list_offset.h` — the
   * request carries a topic/partition array), and the handler answers
   * earliest and latest from the same partition probe. One aggregate
   * over one scan instead of two scans joined — half the work of
   * composing [[earliestOffsets]] ⋈ [[latestOffsets]].
   */
  def offsetBounds(log: DataFrame): DataFrame =
    log.groupBy("partition")
      .agg(min("offset").as("earliest"), (max("offset") + 1).as("hwm"))

  /**
   * Q3 list_offsets(timestamp) — Kafka timequery: for each partition the
   * first offset whose timestamp >= t (`list_offsets.cc:146-159`,
   * `storage/log_reader.h:296` batch_timequery). Partitions with no such
   * record are absent from the result (the reference returns -1).
   * The timestamp predicate prunes files via column min/max stats — the
   * Spark analogue of the reference's per-segment time index.
   */
  def offsetsForTimestamp(log: DataFrame, tsCol: Column, t: Column): DataFrame =
    log.where(tsCol >= t)
      .groupBy("partition")
      .agg(min("offset").as("offset_for_time"))

  /**
   * P1 batch-type filter: the reader returns only requested batch types
   * (`storage/types.h:252-266` type_filter, applied by the
   * skipping_consumer in `storage/log_reader.h:54`). A plain Catalyst
   * Filter — pushed to the Parquet scan as an IN predicate.
   */
  def typeFilter(log: DataFrame, types: Seq[Int]): DataFrame =
    log.where(col("batch_type").isin(types: _*))

  /**
   * A4 Retention GC (time-based): drop the log prefix older than the
   * cutoff (`storage/disk_log_impl.h:88,197`). Returns the surviving log;
   * [[latestOffsets]]/[[earliestOffsets]] over it give the new bounds.
   */
  def retainAfter(log: DataFrame, tsCol: Column, cutoff: Column): DataFrame =
    log.where(tsCol >= cutoff)

  /**
   * A4 Retention GC (size-based, `retention.bytes`): keep the newest
   * `budgetBytes` per partition, dropping the prefix beyond the budget —
   * the reference's size-based retention_offset combined with time GC in
   * `storage/disk_log_impl.h:197` (kafka overrides `:349`). Record-level
   * granularity (the reference drops whole segments; a record log on
   * columnar storage can cut exactly).
   *
   * Scale shape mirrors [[assignOffsetsScalable]]: the suffix byte sum is
   * NOT one monolithic window per partition — chunk aggregates (4096
   * offsets per chunk) are suffix-summed on the tiny per-chunk table and
   * broadcast back, so each task only ranks its own chunk.
   */
  def retainBytes(log: DataFrame, sizeCol: Column, budgetBytes: Long): DataFrame = {
    val tagged = log.withColumn("__chunk", floor(col("offset") / 4096).cast("long"))
      .withColumn("__sz", sizeCol.cast("long"))
    val chunkAgg = tagged.groupBy("partition", "__chunk").agg(sum("__sz").as("__n"))
    // bytes in strictly-later chunks of the same partition
    val afterW = Window.partitionBy("partition").orderBy(col("__chunk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = chunkAgg
      .withColumn("__after", coalesce(sum("__n").over(afterW), lit(0L)))
      .select("partition", "__chunk", "__after")
    // within-chunk suffix sum (newest first), including the current row
    val localW = Window.partitionBy("partition", "__chunk").orderBy(col("offset").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged.join(broadcast(bases), Seq("partition", "__chunk"))
      .withColumn("__cum", col("__after") + sum("__sz").over(localW))
      .where(col("__cum") <= budgetBytes)
      .drop("__chunk", "__sz", "__after", "__cum")
  }

  /**
   * Q4 offset_for_leader_epoch (KIP-320): for each leader epoch present
   * on a partition, the epoch's end offset = first offset of the next
   * epoch, or the log end offset for the latest epoch
   * (`kafka/server/handlers/offset_for_leader_epoch.cc`, epoch check on
   * fetch `fetch.cc:338-342`). One shuffle on (partition, epoch) then a
   * tiny per-partition window over the per-epoch aggregates.
   */
  def offsetsForLeaderEpoch(log: DataFrame, epochCol: Column): DataFrame = {
    val agg = log.groupBy(col("partition"), epochCol.as("leader_epoch"))
      .agg(min("offset").as("epoch_start"), max("offset").as("epoch_last"))
    val w = Window.partitionBy("partition").orderBy("leader_epoch")
    agg.withColumn("end_offset",
        coalesce(lead("epoch_start", 1).over(w), col("epoch_last") + 1))
      .select("partition", "leader_epoch", "end_offset")
  }

  /**
   * delete_records (prefix truncation to `truncateAt`), per
   * `kafka/server/handlers/delete_records.cc:36-70`: new log start becomes
   * `truncateAt`; everything below is removed.
   */
  def deleteRecords(log: DataFrame, truncateAt: Long): DataFrame =
    log.where(col("offset") >= truncateAt)

  /**
   * Read-distribution probe (reference
   * `kafka/server/read_distribution_probe.h` + `utils/log_hist.h:278`
   * `log_hist_read_dist = latency_log_hist<minutes, 16, 4>`): every
   * fetch records its data's age — the delta from the log tip — into a
   * 16-bucket log2 histogram whose first bucket bounds 4 MINUTES. The
   * histogram is what sizes tiered storage: mass in the low buckets is
   * hot-tail traffic the local disk must serve, the high-bucket tail
   * is what may live in object storage.
   *
   * `fetches` is `(partition, offset, fetch_ts_ms)`; `log` supplies
   * each read offset's record timestamp. Bucketing is pure integer
   * (binary-string length, no floating log2): age < 4 min → bucket 0,
   * else `min(15, floor(log2(age_min)) − 1)`. One co-keyed join + one
   * 16-row aggregate; any engine re-derives the histogram exactly.
   */
  def readDistribution(fetches: DataFrame, log: DataFrame): DataFrame = {
    val joined = fetches.join(
      log.select(col("partition"), col("offset"), col("ts_ms").as("__data_ts")),
      Seq("partition", "offset"))
    joined
      .withColumn("__age_min",
        expr("greatest(0L, fetch_ts_ms - __data_ts) div 60000"))
      .withColumn("bucket", when(col("__age_min") < 4, 0)
        .otherwise(least(lit(15), (length(bin(col("__age_min"))) - 2).cast("int"))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_reads"))
      .withColumn("upper_min",
        when(col("bucket") < 15,
          expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket + 2) AS BIGINT)"))
          .otherwise(lit(null).cast("long")))
      .select("bucket", "upper_min", "n_reads")
  }
}
