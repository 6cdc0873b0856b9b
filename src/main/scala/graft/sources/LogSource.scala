package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.RecordBatchCodec

/**
 * A DataSourceV2 reader over an on-disk Kafka-format log: segment files
 * of concatenated v2 wire record batches plus a sparse per-segment
 * index sidecar — the storage shape of the reference's log
 * (`storage/segment.h` + `storage/segment_index.h`; readers seek by
 * batch header, `storage/log_reader.h:270-296` skips whole batches
 * whose bounds fall outside the requested window).
 *
 * Spark-first execution mapping:
 *  - SEGMENT PRUNING happens at plan time: pushed partition/offset/
 *    timestamp bounds drop whole segment files against the sidecar
 *    index — the analogue of parquet partition pruning, but over log
 *    segments. The scan description carries `segments=<kept>/<total>`
 *    so plans pin it.
 *  - PACKING: the surviving segments are packed, in index order, into
 *    input partitions by Spark's small-file rule ([[LogSource.pack]]),
 *    so a scan over hundreds of KB-sized segments runs a few tasks, not
 *    one per segment. Each task's reader walks its segments in a chain,
 *    like the reference's `storage/log_reader.h` over a partition's
 *    segment set.
 *  - BATCH SEEKING happens at read time: each reader walks 61-byte
 *    batch headers and skips the payload of any batch whose
 *    offset/timestamp bounds miss the residual predicate — payloads
 *    are never decompressed, the exact `log_reader` skip.
 *  - COLUMN PRUNING: when neither key, value nor timestamp survives
 *    projection and the batch is dense, rows are synthesized from the
 *    header alone — the records region is never parsed.
 *
 * Layout: `<root>/p<partition>/<base padded to 20>.log` segment files;
 * `<root>/_index.jsonl` sidecar with one line per segment
 * (path, partition, base_offset, last_offset, min_ts, max_ts).
 */
class LogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graftlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new LogTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object LogSource {
  // all-nullable so computed columns (pmod partitions, derived
  // offsets) append without a nullability-widening refusal; the
  // writer itself rejects null partition/offset values
  val Schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = true),
    StructField("offset", LongType, nullable = true),
    StructField("timestamp", LongType, nullable = true),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true)))

  final case class Segment(path: String, partition: Int, baseOffset: Long,
      lastOffset: Long, minTs: Long, maxTs: Long)

  /** One segment of a task and the bounds its batches are read under;
    * a micro-batch's bounds differ per Kafka partition. */
  final case class SegmentRead(segment: Segment, bounds: Bounds)

  /** Bounds a pushed-filter set resolves to (inclusive). */
  final case class Bounds(partitions: Option[Set[Int]], minOffset: Long,
      maxOffset: Long, minTs: Long, maxTs: Long) {
    def segmentSurvives(s: Segment): Boolean =
      partitions.forall(_.contains(s.partition)) &&
        s.lastOffset >= minOffset && s.baseOffset <= maxOffset &&
        s.maxTs >= minTs && s.minTs <= maxTs
  }

  // Parsed-index cache keyed by the sidecar file's identity (mtime +
  // size): every query — and every streaming micro-batch discovery —
  // re-reads the index, and at reference scale the sidecar is the
  // planner's hottest metadata object. An appended index changes mtime
  // and re-parses; an unchanged one is served from memory.
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[Segment]]()

  def parseIndex(root: String): Seq[Segment] = {
    val p = Paths.get(root, "_index.jsonl")
    val key = (p.toString, Files.getLastModifiedTime(p).toMillis, Files.size(p))
    val hit = indexCache.get(key)
    if (hit != null) return hit
    val parsed = parseIndexUncached(p)
    // drop stale generations of the same path before publishing
    indexCache.keySet.removeIf(k => k._1 == key._1 && k != key)
    indexCache.put(key, parsed)
    parsed
  }

  private def parseIndexUncached(p: Path): Seq[Segment] = {
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { line =>
      // fixed-shape JSONL written by the segment writer; parsed
      // positionally to keep the reader dependency-free
      val fields = line.stripPrefix("{").stripSuffix("}").split(",")
        .map(_.split(":", 2)).map(a => a(0).trim.stripPrefix("\"")
          .stripSuffix("\"") -> a(1).trim.stripPrefix("\"").stripSuffix("\""))
        .toMap
      Segment(fields("path"), fields("partition").toInt,
        fields("base_offset").toLong, fields("last_offset").toLong,
        fields("min_ts").toLong, fields("max_ts").toLong)
    }
  }

  /**
   * Segment writer (fixtures run it EXECUTOR-SIDE, one call per
   * (partition, segment) group, so the corpus never funnels through
   * the driver): rows (offset, timestamp, key, value) become
   * `batchRecords`-sized wire batches appended to one segment file.
   * Returns the sidecar index line for the segment.
   */
  def writeSegment(root: String, partition: Int,
      rows: Seq[(Long, Long, Array[Byte], Array[Byte])],
      batchRecords: Int): String =
    writeSegmentAs(root, partition, rows, batchRecords, tmpToken = None)._2

  /**
   * Like [[writeSegment]] but, when `tmpToken` is set, the bytes land at
   * an attempt-unique temp path (`<final>.<token>.tmp`) while the index
   * line still references the FINAL path — the driver's commit() renames
   * winners into place, so a speculative duplicate task attempt can
   * never interleave bytes into the file the winner publishes (the
   * reference's segment-roll protocol likewise appends to an unpublished
   * file and exposes it only via the index). Returns
   * (pathWritten, indexLine).
   */
  def writeSegmentAs(root: String, partition: Int,
      rows: Seq[(Long, Long, Array[Byte], Array[Byte])],
      batchRecords: Int, tmpToken: Option[String]): (String, String) = {
    val sorted = rows.sortBy(_._1)
    val segBase = sorted.head._1
    val dir = Paths.get(root, s"p$partition")
    Files.createDirectories(dir)
    val finalPath = dir.resolve(f"$segBase%020d.log")
    val path = tmpToken match {
      case Some(t) => dir.resolve(f"$segBase%020d.log.$t%s.tmp")
      case None => finalPath
    }
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path))
    sorted.grouped(batchRecords).foreach { group =>
      val base = group.head._1
      val firstTs = group.head._2
      val recs = group.map(r => RecordBatchCodec.Rec((r._1 - base).toInt,
        r._2 - firstTs, r._3, r._4, Nil))
      val maxTs = group.map(_._2).max
      out.write(RecordBatchCodec.encode(base, 0, 0, firstTs, maxTs,
        -1L, -1, -1, recs.toSeq))
    }
    out.close()
    (path.toString,
      s"""{"path":"${finalPath.toString}","partition":$partition,""" +
        s""""base_offset":$segBase,"last_offset":${sorted.last._1},""" +
        s""""min_ts":${rows.map(_._2).min},"max_ts":${rows.map(_._2).max}}""")
  }

  /**
   * Packs segment reads, each with its file size, into input partitions
   * by the rule Spark plans small files with: the split size is
   * `FilePartition.maxSplitBytes` over Σ(size + openCost)
   * (`spark.sql.files.maxPartitionBytes`, `.openCostInBytes`,
   * `.minPartitionNum` or else the default parallelism), and a partition
   * closes when the next segment would take it past that size. Unlike
   * `FileSourceScanExec` the reads are never sorted by size: they stay
   * in the order given (index order), so a task walks each Kafka
   * partition's segments in offset order and a scan without `orderBy`
   * returns each partition's rows in offset order.
   */
  def pack(reads: Seq[(SegmentRead, Long)], limit: Int): Array[InputPartition] = {
    val spark = SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, reads.map(_._2 + openCost).sum)
    val parts = Array.newBuilder[InputPartition]
    val current = scala.collection.mutable.ArrayBuffer.empty[SegmentRead]
    var currentSize = 0L
    def close(): Unit = if (current.nonEmpty) {
      parts += LogInputPartition(current.toSeq, limit)
      current.clear()
      currentSize = 0L
    }
    reads.foreach { case (read, size) =>
      if (currentSize + size > maxSplit) close()
      current += read
      currentSize += size + openCost
    }
    close()
    parts.result()
  }

  def writeIndex(root: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(root, "_index.jsonl"),
      lines.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
}

class LogTable(path: String) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graftlog(`$path`)"
  override def schema(): StructType = LogSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogScanBuilder(path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new LogWriteBuilder(path, info.schema(), info.options())
}

class LogScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = LogSource.Schema
  private var limit: Int = -1

  // Per-reader early exit: each task stops walking batch headers after
  // `limit` surviving rows (Spark still applies the global LIMIT on
  // top — hence `false` = partial pushdown).
  override def pushLimit(l: Int): Boolean = { limit = l; false }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo(a, _) => a == "partition" || a == "offset" || a == "timestamp"
      case In(a, _) => a == "partition"
      case GreaterThan(a, _) => a == "offset" || a == "timestamp"
      case GreaterThanOrEqual(a, _) => a == "offset" || a == "timestamp"
      case LessThan(a, _) => a == "offset" || a == "timestamp"
      case LessThanOrEqual(a, _) => a == "offset" || a == "timestamp"
      case _ => false
    }
    pushed = supported
    rest // the source enforces its pushed set exactly; nothing re-runs
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new LogScan(path, pushed, required, limit)
}

class LogScan(path: String, pushed: Array[Filter], required: StructType,
    limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  private def longOf(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case other => other.toString.toLong
  }

  private[sources] val bounds: LogSource.Bounds = {
    var parts: Option[Set[Int]] = None
    var minOff = Long.MinValue; var maxOff = Long.MaxValue
    var minTs = Long.MinValue; var maxTs = Long.MaxValue
    pushed.foreach {
      case EqualTo("partition", v) => parts = Some(Set(longOf(v).toInt))
      case In("partition", vs) => parts = Some(vs.map(longOf(_).toInt).toSet)
      case EqualTo("offset", v) =>
        minOff = math.max(minOff, longOf(v)); maxOff = math.min(maxOff, longOf(v))
      case GreaterThan("offset", v) => minOff = math.max(minOff, longOf(v) + 1)
      case GreaterThanOrEqual("offset", v) => minOff = math.max(minOff, longOf(v))
      case LessThan("offset", v) => maxOff = math.min(maxOff, longOf(v) - 1)
      case LessThanOrEqual("offset", v) => maxOff = math.min(maxOff, longOf(v))
      case EqualTo("timestamp", v) =>
        minTs = math.max(minTs, longOf(v)); maxTs = math.min(maxTs, longOf(v))
      case GreaterThan("timestamp", v) => minTs = math.max(minTs, longOf(v) + 1)
      case GreaterThanOrEqual("timestamp", v) => minTs = math.max(minTs, longOf(v))
      case LessThan("timestamp", v) => maxTs = math.min(maxTs, longOf(v) - 1)
      case LessThanOrEqual("timestamp", v) => maxTs = math.min(maxTs, longOf(v))
      case _ => ()
    }
    LogSource.Bounds(parts, minOff, maxOff, minTs, maxTs)
  }

  private lazy val all = LogSource.parseIndex(path)
  private lazy val kept = all.filter(bounds.segmentSurvives)
  // stat'ed once per scan: the planner asks for statistics several
  // times, and packing needs the same sizes
  private lazy val keptSizes: Seq[(LogSource.Segment, Long)] =
    kept.map(s => s -> Files.size(Paths.get(s.path)))

  // Runtime (join-driven) partition restriction — dynamic partition
  // pruning's DSv2 hook: a selective dimension join on `partition`
  // hands the surviving keys here AFTER the build side runs, and whole
  // segment files drop before any task launches. At 100 TB this is the
  // difference between scanning every partition's segments and only
  // the joined ones.
  private var runtimePartitions: Option[Set[Int]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("partition"))

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In("partition", vs) =>
        runtimePartitions = Some(vs.map(longOf(_).toInt).toSet)
      case EqualTo("partition", v) =>
        runtimePartitions = Some(Set(longOf(v).toInt))
      case _ => () // non-partition runtime filters don't prune segments
    }

  private def runtimeKept: Seq[(LogSource.Segment, Long)] = runtimePartitions match {
    case None => keptSizes
    case Some(ps) => keptSizes.filter { case (s, _) => ps.contains(s.partition) }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LogMicroBatchStream(path, bounds, required.fieldNames.toIndexedSeq)
  override def description(): String =
    s"GraftLogScan segments=${kept.size}/${all.size} " +
      s"pushed=[${pushed.mkString(", ")}]" +
      (if (limit >= 0) s" limit=$limit" else "")

  override def planInputPartitions(): Array[InputPartition] =
    LogSource.pack(runtimeKept.map { case (s, size) =>
      LogSource.SegmentRead(s, bounds) -> size }, limit)
  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(required.fieldNames.toIndexedSeq)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(keptSizes.map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

/** One task's segments, read in order; `limit` caps the rows the whole
  * task emits. */
final case class LogInputPartition(reads: Seq[LogSource.SegmentRead],
    limit: Int = -1) extends InputPartition

/**
 * The WRITE path: the writer DECLARES what a log segment needs —
 * clustering by `partition` and in-task ordering by `offset`
 * (RequiresDistributionAndOrdering) — and Spark plans the exchange and
 * sort; no hand-rolled repartition. Each task streams its clustered,
 * sorted rows into `batchRecords`-sized wire batches, rolling segment
 * files every `segmentRecords` offsets, and ships only sidecar index
 * lines in its commit message; the driver's commit() merges them with
 * the existing index ATOMICALLY (write-then-move), so readers never
 * observe a half-published log — the segment-roll + index-publish
 * protocol of the reference's storage layer.
 */
class LogWriteBuilder(path: String, schema: StructType,
    options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  import org.apache.spark.sql.connector.write._

  // the reference rolls segments on accumulated bytes (`segment.bytes`,
  // storage/disk_log_impl defaults 128 MiB); record count is only a
  // secondary cap
  private val segmentBytes =
    options.getLong("segment.bytes", 128L * 1024 * 1024)
  private val segmentRecords = options.getInt("segment.records", 2000)
  private val batchRecords = options.getInt("batch.records", 500)

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.identity("partition")))
    override def requiredOrdering(): Array[SortOrder] = Array(
      Expressions.sort(Expressions.identity("partition"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.identity("offset"), SortDirection.ASCENDING))
    override def requiredNumPartitions(): Int = 0 // planner's choice

    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new LogWriterFactory(path, schema.fieldNames.toIndexedSeq,
          batchRecords, segmentRecords, segmentBytes)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val msgs = messages.map(_.asInstanceOf[LogCommitMessage])
        // winners publish: rename each attempt-unique temp segment to its
        // final path (a retried idempotent attempt re-renames identical
        // bytes; a speculative loser's temp file is simply never renamed)
        msgs.flatMap(_.renames).foreach { case (tmp, dst) =>
          Files.move(Paths.get(tmp), Paths.get(dst),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        val fresh = msgs.flatMap(_.indexLines)
        val existing =
          if (Files.exists(Paths.get(path, "_index.jsonl")))
            Files.readAllLines(Paths.get(path, "_index.jsonl")).asScala.toSeq
              .filter(_.nonEmpty)
          else Nil
        val tmp = Paths.get(path, "_index.jsonl.tmp")
        // .distinct: an idempotent task re-run must not double-publish
        // the same segment's line (rows would read twice)
        Files.write(tmp, (existing ++ fresh).distinct.sorted
          .mkString("", "\n", "\n").getBytes(UTF_8))
        Files.move(tmp, Paths.get(path, "_index.jsonl"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        messages.collect { case m: LogCommitMessage => m }
          .flatMap(_.renames).foreach { case (tmp, _) =>
            Files.deleteIfExists(Paths.get(tmp))
          }
    }
  }
}

final case class LogCommitMessage(indexLines: Seq[String],
    renames: Seq[(String, String)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class LogWriterFactory(path: String, fields: Seq[String],
    batchRecords: Int, segmentRecords: Int, segmentBytes: Long)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new LogDataWriter(path, fields, batchRecords, segmentRecords,
      segmentBytes, token = s"$partitionId-$taskId")
}

class LogDataWriter(path: String, fields: Seq[String],
    batchRecords: Int = 500, segmentRecords: Int = 2000,
    segmentBytes: Long = 128L * 1024 * 1024, token: String = "w")
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import graft.functions.RecordBatchCodec.{varintSize, HeaderSize}

  private val iPart = fields.indexOf("partition")
  private val iOff = fields.indexOf("offset")
  private val iTs = fields.indexOf("timestamp")
  private val iKey = fields.indexOf("key")
  private val iVal = fields.indexOf("value")

  private val lines = scala.collection.mutable.ArrayBuffer.empty[String]
  private val renames =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val buf =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte], Array[Byte])]
  private var curPartition = Int.MinValue
  private var lastOffset = Long.MinValue
  private var curBytes = 0L

  private def flushSegment(): Unit = {
    if (buf.nonEmpty) {
      val (written, line) = LogSource.writeSegmentAs(
        path, curPartition, buf.toSeq, batchRecords, Some(token))
      lines += line
      val dst = written.stripSuffix(s".$token.tmp")
      renames += ((written, dst))
      buf.clear()
      curBytes = 0L
    }
  }

  /** Wire-size accounting for the byte roll: exact record body size for
    * a headerless record with offsetDelta/tsDelta bounded by the batch
    * span, plus the per-batch 61-byte header amortized at batch starts. */
  private def wireSize(key: Array[Byte], value: Array[Byte]): Long = {
    val body = 1 + 5 + 5 + // attributes + tsDelta + offsetDelta (bounded)
      varintSize(key.length.toLong) + key.length +
      varintSize(value.length.toLong) + value.length + 1 // headers count
    val batchStart = if (buf.size % batchRecords == 0) HeaderSize.toLong else 0L
    batchStart + varintSize(body.toLong) + body
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(iPart) && !row.isNullAt(iOff),
      "partition and offset are required")
    val p = row.getInt(iPart)
    val o = row.getLong(iOff)
    if (p != curPartition) {
      flushSegment()
      curPartition = p
      lastOffset = Long.MinValue
    } else if (buf.size >= segmentRecords || curBytes >= segmentBytes) {
      flushSegment()
    }
    require(o > lastOffset,
      s"offsets must be strictly increasing per partition ($o after $lastOffset)")
    lastOffset = o
    val key =
      if (iKey >= 0 && !row.isNullAt(iKey)) row.getBinary(iKey) else Array.emptyByteArray
    val value =
      if (iVal >= 0 && !row.isNullAt(iVal)) row.getBinary(iVal) else Array.emptyByteArray
    curBytes += wireSize(key, value)
    buf += ((o, if (iTs >= 0) row.getLong(iTs) else -1L, key, value))
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    flushSegment()
    LogCommitMessage(lines.toSeq, renames.toSeq)
  }
  override def abort(): Unit =
    renames.foreach { case (tmp, _) => Files.deleteIfExists(Paths.get(tmp)) }
  override def close(): Unit = ()
}

/** Per-partition next-offset watermark, the stream's exactly-once
  * cursor (the consumer-offset analogue). */
final case class LogStreamOffset(ends: Map[Int, Long])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    ends.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

object LogStreamOffset {
  def parse(json: String): LogStreamOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}")
    if (body.isEmpty) LogStreamOffset(Map.empty)
    else LogStreamOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }
}

/**
 * Structured Streaming over the same on-disk log: the segment index IS
 * the discovery mechanism — `latestOffset` re-reads the sidecar, each
 * micro-batch takes the segments overlapping [start, end) per
 * partition, in index order, each carrying its partition's batch
 * window in its bounds, and packs them into tasks with the batch
 * path's rule ([[LogSource.pack]]); the same chained header-seeking
 * reader serves both. Restarting from a checkpoint resumes at the
 * committed per-partition cursor — new segments appended between runs
 * are read exactly once.
 */
class LogMicroBatchStream(path: String, pushed: LogSource.Bounds,
    fields: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def segments = LogSource.parseIndex(path)
    .filter(s => pushed.partitions.forall(_.contains(s.partition)))

  override def latestOffset(): Offset =
    LogStreamOffset(segments.groupBy(_.partition).map { case (p, ss) =>
      p -> (ss.map(_.lastOffset).max + 1)
    })
  override def initialOffset(): Offset = LogStreamOffset(Map.empty)
  override def deserializeOffset(json: String): Offset =
    LogStreamOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[LogStreamOffset].ends
    val e0 = end.asInstanceOf[LogStreamOffset].ends
    val reads = segments.flatMap { seg =>
      val startOff = s0.getOrElse(seg.partition, 0L)
      e0.get(seg.partition)
        .filter(endOff => endOff > startOff &&
          seg.lastOffset >= startOff && seg.baseOffset < endOff)
        .map { endOff =>
          val b = pushed.copy(
            minOffset = math.max(pushed.minOffset, startOff),
            maxOffset = math.min(pushed.maxOffset, endOff - 1))
          LogSource.SegmentRead(seg, b) -> Files.size(Paths.get(seg.path))
        }
    }
    LogSource.pack(reads, limit = -1)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(fields)
}

class LogReaderFactory(fields: Seq[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LogPartitionReader(partition.asInstanceOf[LogInputPartition], fields)
}

/**
 * Walks a task's segments in order, one FileChannel open at a time, and
 * streams each — the whole file is NEVER materialized (reference
 * segments run 128 MiB–1 GiB, `storage/disk_log_impl.h`; a whole-file
 * read would be an unbounded heap spike per task). Per batch, a 61-byte
 * positional header read decides: outside the segment's offset/timestamp
 * window the reader re-positions PAST the payload without touching it (a
 * true seek — the `storage/log_reader.h:270-296` skip saves I/O, not
 * just decompression); inside it, only that batch's bytes are read, and
 * records decode unless projection needs none of timestamp/key/value
 * and offsets are dense, in which case rows come from header math
 * alone. Peak heap per reader is one surviving batch.
 */
class LogPartitionReader(p: LogInputPartition, fields: Seq[String])
    extends PartitionReader[InternalRow] {
  import graft.functions.RecordBatchCodec._

  private val reads = p.reads.iterator
  private var read: LogSource.SegmentRead = _
  private var ch: java.nio.channels.FileChannel = _
  private var fileSize = 0L
  private val headerArr = new Array[Byte](HeaderSize)
  private var pos = 0L
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  /** Bytes actually fetched from the channels (headers + surviving
    * batches) — the spec's bounded-I/O accounting hook. */
  private[sources] var bytesFetched = 0L
  private val needsRecords =
    fields.contains("timestamp") || fields.contains("key") ||
      fields.contains("value")

  /** Closes the current segment and opens the task's next one; false
    * when none is left. */
  private def openNext(): Boolean = {
    close()
    if (!reads.hasNext) return false
    read = reads.next()
    ch = java.nio.channels.FileChannel.open(
      Path.of(read.segment.path), java.nio.file.StandardOpenOption.READ)
    fileSize = ch.size()
    pos = 0L
    true
  }

  /** Positional read of exactly `len` bytes at `at`; loud on short reads
    * (a file truncated between size() and here must not decode). */
  private def readFully(at: Long, len: Int,
      into: Array[Byte] = null): Array[Byte] = {
    val arr = if (into != null) into else new Array[Byte](len)
    val bb = java.nio.ByteBuffer.wrap(arr, 0, len)
    var off = at
    while (bb.hasRemaining) {
      val n = ch.read(bb, off)
      require(n > 0,
        s"segment ${read.segment.path} truncated at $off (wanted $len bytes at $at)")
      off += n
    }
    bytesFetched += len
    arr
  }

  private def rowOf(offset: Long, ts: Long, key: Array[Byte],
      value: Array[Byte]): InternalRow = {
    val vals = fields.map {
      case "partition" => read.segment.partition
      case "offset" => offset
      case "timestamp" => ts
      case "key" => key
      case "value" => value
    }
    new GenericInternalRow(vals.toArray[Any])
  }

  /** Next batch of the current segment with rows in its window; false
    * once the segment is exhausted. */
  private def nextBatch(): Boolean = {
    val b = read.bounds
    while (pos + HeaderSize <= fileSize) {
      readFully(pos, HeaderSize, into = headerArr)
      val h = decodeHeader(headerArr)
      val total = h.batchLength.toLong + LengthFieldOffset
      // a torn tail (crash mid-append) must fail loudly, not decode
      // fabricated bytes
      require(total >= HeaderSize && pos + total <= fileSize,
        s"segment ${read.segment.path} truncated at $pos (batch claims $total bytes)")
      val batchLast = h.baseOffset + h.lastOffsetDelta
      val inWindow = batchLast >= b.minOffset && h.baseOffset <= b.maxOffset &&
        h.maxTimestamp >= b.minTs && h.firstTimestamp <= b.maxTs
      // header math can only replace a record parse when the batch
      // lies ENTIRELY inside the time window — a partially-overlapping
      // batch needs per-record timestamps to filter exactly
      val tsWhole = h.firstTimestamp >= b.minTs && h.maxTimestamp <= b.maxTs
      if (!inWindow) {
        pos += total // log_reader-style skip: payload never read at all
      } else if (!needsRecords && tsWhole &&
          h.lastOffsetDelta == h.recordCount - 1) {
        // dense batch + header-only projection: no record parse at all.
        // rowOf below synthesizes ts = -1; that sentinel must never be
        // observable, so the projection is re-checked loudly here rather
        // than trusted to stay in sync with needsRecords.
        require(!fields.contains("timestamp") && !fields.contains("key") &&
          !fields.contains("value"),
          s"header-only fast path reached with projection $fields — " +
            "would surface sentinel timestamp/null payload")
        val base = h.baseOffset
        rows = (0 until h.recordCount).iterator
          .map(i => base + i)
          .filter(o => o >= b.minOffset && o <= b.maxOffset)
          .map(o => rowOf(o, -1L, null, null))
        pos += total
        if (rows.hasNext) return true
      } else {
        val batch = readFully(pos, total.toInt)
        val recs = decodeRecords(recordsRegion(batch), h.recordCount)
        val base = h.baseOffset; val firstTs = h.firstTimestamp
        rows = recs.iterator
          .map(r => (base + r.offsetDelta, firstTs + r.tsDelta, r.key, r.value))
          .filter { case (o, ts, _, _) =>
            o >= b.minOffset && o <= b.maxOffset && ts >= b.minTs && ts <= b.maxTs
          }
          .map { case (o, ts, k, v) => rowOf(o, ts, k, v) }
        pos += total
        if (rows.hasNext) return true
      }
    }
    // a non-empty tail shorter than a header is still a torn append —
    // the mid-header variant of the truncation guard
    require(pos == fileSize,
      s"segment ${read.segment.path} truncated at $pos " +
        s"(${fileSize - pos} trailing bytes, shorter than a batch header)")
    false
  }

  private var emitted = 0

  override def next(): Boolean = {
    // pushed LIMIT: stop walking headers once this task has produced
    // enough rows for the global limit on its own
    if (p.limit >= 0 && emitted >= p.limit) return false
    while (!rows.hasNext) {
      val more = if (ch == null) openNext() else nextBatch() || openNext()
      if (!more) return false
    }
    current = rows.next()
    emitted += 1
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (ch != null) { ch.close(); ch = null }
}
