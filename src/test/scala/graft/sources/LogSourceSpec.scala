package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DSv2 log source: segment pruning against the sidecar index,
  * packing segments into tasks, batch-header seeking, header-only
  * projection, and decode parity of key/value bytes. */
class LogSourceSpec extends SparkSpec {

  // 2 partitions x 2 segments x (2 batches of 3 records)
  private lazy val root: String = {
    val dir = Files.createTempDirectory("logsource_spec").toString
    def rows(base: Long, ts0: Long): Seq[(Long, Long, Array[Byte], Array[Byte])] =
      (0 until 6).map(i => (base + i, ts0 + i * 10,
        s"k${base + i}".getBytes("UTF-8"), s"v${base + i}".getBytes("UTF-8")))
    val lines = Seq(
      LogSource.writeSegment(dir, 0, rows(0, 100), batchRecords = 3),
      LogSource.writeSegment(dir, 0, rows(6, 160), batchRecords = 3),
      LogSource.writeSegment(dir, 1, rows(0, 500), batchRecords = 3),
      LogSource.writeSegment(dir, 1, rows(6, 560), batchRecords = 3))
    LogSource.writeIndex(dir, lines)
    dir
  }

  private def table = spark.read.format("graft.sources.LogSource")
    .option("path", root).load()

  test("full scan decodes every record with key/value bytes intact") {
    val out = table.orderBy("partition", "offset")
      .select(col("partition"), col("offset"), col("timestamp"),
        col("key").cast("string"), col("value").cast("string"))
      .collect()
    assert(out.length === 24)
    assert(out.head.toSeq === Seq(0, 0L, 100L, "k0", "v0"))
    assert(out.last.toSeq === Seq(1, 11L, 610L, "k11", "v11"))
  }

  test("partition + offset pushdown prunes segments at plan time") {
    val q = table.where(col("partition") === 1 && col("offset") >= 7 &&
      col("offset") <= 9)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogScan segments=1/4"), plan)
    val offsets = q.select("offset").collect().map(_.getLong(0)).sorted
    assert(offsets === Array(7L, 8L, 9L))
  }

  test("timestamp pushdown prunes on the index time bounds") {
    val q = table.where(col("timestamp") >= 500L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("segments=2/4"), plan)
    assert(q.count() === 12)
    // residual bound inside a surviving segment is exact
    assert(table.where(col("timestamp") === 560L).count() === 1)
  }

  test("header-only projection answers offset aggregates") {
    val agg = table.where(col("offset") < 6).groupBy("partition")
      .agg(count(lit(1)).as("n"), max("offset").as("mx"))
      .orderBy("partition").collect()
    assert(agg.map(_.toSeq).toSeq ===
      Seq(Seq(0, 6L, 5L), Seq(1, 6L, 5L)))
  }

  test("a torn segment tail fails loudly instead of decoding padding") {
    val dir = Files.createTempDirectory("logsource_torn").toString
    val line = LogSource.writeSegment(dir, 0,
      (0 until 6).map(i => (i.toLong, 100L + i,
        s"k$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"))), batchRecords = 3)
    LogSource.writeIndex(dir, Seq(line))
    val seg = java.nio.file.Paths.get(dir, "p0").toFile.listFiles().head.toPath
    val bytes = Files.readAllBytes(seg)
    Files.write(seg, java.util.Arrays.copyOf(bytes, bytes.length - 5))
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftlog").option("path", dir).load().count()
    }
    assert(ex.getMessage.contains("truncated") ||
      Option(ex.getCause).exists(_.getMessage.contains("truncated")))
  }

  test("streaming resume reads appended segments exactly once") {
    val dir = Files.createTempDirectory("logsource_stream").toString
    val ckpt = Files.createTempDirectory("logsource_ckpt").toString
    def phase(base: Long, ts0: Long): Unit = {
      val line = LogSource.writeSegment(dir, 0,
        (0 until 6).map(i => (base + i, ts0 + i,
          s"k${base + i}".getBytes("UTF-8"), Array.emptyByteArray)),
        batchRecords = 3)
      val prior = if (Files.exists(java.nio.file.Paths.get(dir, "_index.jsonl")))
        LogSource.parseIndex(dir).map(s =>
          s"""{"path":"${s.path}","partition":${s.partition},""" +
            s""""base_offset":${s.baseOffset},"last_offset":${s.lastOffset},""" +
            s""""min_ts":${s.minTs},"max_ts":${s.maxTs}}""")
      else Nil
      LogSource.writeIndex(dir, prior :+ line)
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").option("path", dir).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val offs = df.select("offset").collect().map(_.getLong(0))
          seen.synchronized { seen ++= offs }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    phase(0, 100); drain()
    assert(seen.sorted.toSeq === (0L until 6L))
    phase(6, 200); drain()
    assert(seen.sorted.toSeq === (0L until 12L)) // no re-read of 0-5
  }

  test("write path: Spark plans the clustering/sort the writer declares; round-trip is exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("logsource_write").toString
    val rows = (0 until 3).flatMap(p => (0L until 25L).map(o =>
      (p, o, 1000L + o, s"k$o".getBytes("UTF-8"), s"v$p-$o".getBytes("UTF-8"))))
    val df = spark.createDataFrame(
      rows.toDF("partition", "offset", "timestamp", "key", "value").rdd,
      LogSource.Schema)
    // deliberately unsorted, un-clustered input: the source's
    // RequiresDistributionAndOrdering must make Spark fix it
    df.repartition(7).write.format("graftlog").mode("append")
      .option("path", dir).save()
    val back = spark.read.format("graftlog").option("path", dir).load()
    assert(back.count() === 75)
    val one = back.where(col("partition") === 1 && col("offset") === 7)
      .select(col("timestamp"), col("value").cast("string")).collect()
    assert(one.map(_.toSeq).toSeq === Seq(Seq(1007L, "v1-7")))
    // append merges the index atomically; both generations readable
    spark.createDataFrame(
        Seq((0, 25L, 1025L, "k25".getBytes("UTF-8"), "late".getBytes("UTF-8")))
          .toDF("partition", "offset", "timestamp", "key", "value").rdd,
        LogSource.Schema)
      .write.format("graftlog").mode("append").option("path", dir).save()
    assert(spark.read.format("graftlog").option("path", dir).load().count() === 76)
    assert(spark.read.format("graftlog").option("path", dir).load()
      .where(col("offset") === 25).select(col("value").cast("string"))
      .head().getString(0) === "late")
  }

  test("a tail torn mid-header (shorter than 61 bytes) also fails loudly") {
    val dir = Files.createTempDirectory("logsource_midheader").toString
    val line = LogSource.writeSegment(dir, 0,
      (0 until 6).map(i => (i.toLong, 100L + i,
        s"k$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"))), batchRecords = 3)
    LogSource.writeIndex(dir, Seq(line))
    val seg = java.nio.file.Paths.get(dir, "p0").toFile.listFiles().head.toPath
    val bytes = Files.readAllBytes(seg)
    // append a 30-byte torn header fragment (a crash mid-append)
    Files.write(seg, java.util.Arrays.copyOf(bytes, bytes.length + 30))
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftlog").option("path", dir).load().count()
    }
    assert(ex.getMessage.contains("truncated") ||
      Option(ex.getCause).exists(_.getMessage.contains("truncated")))
  }

  test("reader streams a 256 MiB segment: skipped payloads are never read") {
    import graft.functions.RecordBatchCodec
    // A sparse segment: real in-window batches at both ends, 8 filler
    // batches of 32 MiB whose payload region is a file hole — if the
    // reader materialized the file (or read skipped payloads) the byte
    // accounting would show ~256 MiB; a header-seek reader fetches KBs.
    val dir = Files.createTempDirectory("logsource_sparse")
    val pdir = dir.resolve("p0"); Files.createDirectories(pdir)
    val seg = pdir.resolve(f"${0L}%020d.log")
    val ch = java.nio.channels.FileChannel.open(seg,
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    def realBatch(base: Long, ts0: Long): Array[Byte] =
      RecordBatchCodec.encode(base, 0, 0, ts0, ts0 + 2, -1L, -1, -1,
        (0 until 3).map(i => RecordBatchCodec.Rec(i, i.toLong,
          s"k${base + i}".getBytes("UTF-8"), s"v${base + i}".getBytes("UTF-8"),
          Nil)))
    def fillerHeader(base: Long, payload: Int): Array[Byte] = {
      // a syntactically-valid 61-byte v2 header claiming `payload` bytes
      // of records that are never written (the hole reads as zeros —
      // which is exactly why a correct reader must not touch them)
      val b = java.nio.ByteBuffer.allocate(RecordBatchCodec.HeaderSize)
      b.putLong(base)
      b.putInt(RecordBatchCodec.HeaderSize - RecordBatchCodec.LengthFieldOffset + payload)
      b.putInt(0); b.put(2.toByte); b.putInt(0); b.putShort(0.toShort)
      b.putInt(99) // lastOffsetDelta
      b.putLong(500L); b.putLong(501L) // timestamps (irrelevant: offset-pruned)
      b.putLong(-1L); b.putShort((-1).toShort); b.putInt(-1); b.putInt(100)
      b.array()
    }
    var at = 0L
    def writeAt(bytes: Array[Byte]): Unit = {
      ch.write(java.nio.ByteBuffer.wrap(bytes), at); at += bytes.length
    }
    writeAt(realBatch(0, 100))
    val hole = 32 * 1024 * 1024
    (0 until 8).foreach { i =>
      writeAt(fillerHeader(1000L + i * 100, hole))
      at += hole // the payload is a hole: never written, never read
    }
    val lastReal = realBatch(2000, 900)
    writeAt(lastReal)
    ch.close()
    assert(Files.size(seg) >= 256L * 1024 * 1024)
    LogSource.writeIndex(dir.toString, Seq(
      s"""{"path":"$seg","partition":0,"base_offset":0,"last_offset":2002,""" +
        s""""min_ts":100,"max_ts":902}"""))
    // window hits only the first real batch → everything else is seeked past
    val part = LogInputPartition(Seq(LogSource.SegmentRead(
      LogSource.parseIndex(dir.toString).head,
      LogSource.Bounds(None, Long.MinValue, 5L, Long.MinValue, Long.MaxValue))))
    val reader = new LogPartitionReader(part,
      Seq("partition", "offset", "timestamp", "key", "value"))
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (reader.next()) got += reader.get().getLong(1)
    reader.close()
    assert(got.toSeq === Seq(0L, 1L, 2L))
    // 9 headers + 2 real batches ≪ 1 MiB; whole-file would be ≥ 256 MiB
    assert(reader.bytesFetched < 1024 * 1024,
      s"reader fetched ${reader.bytesFetched} bytes — not streaming")
    // and a full unpruned scan through Spark still decodes the ends
    // correctly while seeking the 256 MiB of holes (offset-bounded)
    val df = spark.read.format("graftlog").option("path", dir.toString).load()
      .where(col("offset") >= 2000)
    assert(df.select("offset").collect().map(_.getLong(0)).sorted ===
      Array(2000L, 2001L, 2002L))
  }

  test("writer rolls segments on accumulated wire bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("logsource_byteroll").toString
    // 40 records x ~1 KiB values, segment.bytes=8 KiB → ~6 segments of
    // ~8 records, not one 40-record segment (the record cap is 2000)
    val rows = (0L until 40L).map(o =>
      (0, o, 1000L + o, s"k$o".getBytes("UTF-8"), Array.fill[Byte](1024)(7)))
    spark.createDataFrame(
        rows.toDF("partition", "offset", "timestamp", "key", "value").rdd,
        LogSource.Schema)
      .write.format("graftlog").mode("append")
      .option("path", dir).option("segment.bytes", 8L * 1024)
      .save()
    val segs = LogSource.parseIndex(dir)
    assert(segs.size >= 4, s"expected byte-rolled segments, got ${segs.size}")
    // every segment file is near the byte bound, never the record cap
    segs.foreach { s =>
      val sz = Files.size(java.nio.file.Paths.get(s.path))
      assert(sz <= 2L * 8 * 1024, s"segment ${s.path} is $sz bytes")
    }
    // and nothing is lost or reordered by rolling
    val back = spark.read.format("graftlog").option("path", dir).load()
    assert(back.select("offset").collect().map(_.getLong(0)).sorted ===
      (0L until 40L).toArray)
    // no stray temp files after commit renames winners into place
    val leftovers = java.nio.file.Paths.get(dir, "p0").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("an idempotent re-commit of the same segment does not duplicate rows") {
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    val dir = Files.createTempDirectory("logsource_recommit").toString
    val writerA = new LogDataWriter(dir, LogSource.Schema.fieldNames.toIndexedSeq,
      token = "attempt1")
    val rows = (0L until 5L).map(o => (0, o, 100L + o,
      s"k$o".getBytes("UTF-8"), s"v$o".getBytes("UTF-8")))
    def internalRow(r: (Int, Long, Long, Array[Byte], Array[Byte])) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](r._1, r._2, r._3, r._4, r._5))
    rows.foreach(r => writerA.write(internalRow(r)))
    val msg = writerA.commit()
    val builder = new LogWriteBuilder(dir, LogSource.Schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val batchWrite = builder.build().toBatch
    // the driver retries commit() with the same message set (a crash
    // between rename and index publish): index lines must dedupe
    batchWrite.commit(Array[WriterCommitMessage](msg))
    // re-running the identical attempt (speculative duplicate): its temp
    // file was already renamed; re-commit of the same lines is a no-op
    val writerB = new LogDataWriter(dir, LogSource.Schema.fieldNames.toIndexedSeq,
      token = "attempt2")
    rows.foreach(r => writerB.write(internalRow(r)))
    batchWrite.commit(Array[WriterCommitMessage](writerB.commit()))
    assert(LogSource.parseIndex(dir).size === 1)
    assert(spark.read.format("graftlog").option("path", dir).load().count() === 5)
  }

  test("runtime (join-driven) filters prune whole segments before task launch") {
    import org.apache.spark.sql.sources.{In => SIn}
    // direct contract: the planner hands the surviving join keys to
    // filter() after the build side runs; planInputPartitions shrinks
    val builder = new LogScanBuilder(root)
    val scan = builder.build().asInstanceOf[LogScan]
    assert(scan.planInputPartitions().length === 4)
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("partition"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("partition", Array(1))))
    assert(scan.planInputPartitions().length === 2) // only p1's segments
    // a non-partition runtime filter must not prune anything
    val scan2 = new LogScanBuilder(root).build().asInstanceOf[LogScan]
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("offset", Array(1L))))
    assert(scan2.planInputPartitions().length === 4)
    // end-to-end: a selective dimension join stays correct
    import spark.implicits._
    val dim = Seq((1, "keep")).toDF("partition", "tag")
    val joined = table.join(dim, Seq("partition"))
    assert(joined.count() === 12)
    assert(joined.select("offset").collect().map(_.getLong(0)).sorted ===
      (0L until 12L).toArray)
  }

  test("pushed LIMIT stops each reader early; global limit stays exact") {
    val q = table.limit(3)
    assert(q.queryExecution.executedPlan.toString.contains("limit=3"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() === 3)
    // reader-level: a limited reader emits exactly `limit` rows and
    // stops walking headers (bytesFetched stays below the full segment)
    val seg = LogSource.parseIndex(root).head
    val r = new LogPartitionReader(LogInputPartition(Seq(LogSource.SegmentRead(seg,
      LogSource.Bounds(None, Long.MinValue, Long.MaxValue,
        Long.MinValue, Long.MaxValue))), limit = 2),
      Seq("partition", "offset"))
    var n = 0
    while (r.next()) n += 1
    r.close()
    assert(n === 2)
  }

  test("header-only sentinel never leaks: timestamp projection takes the record path") {
    // the same dense, fully-in-window batches that the header-only fast
    // path handles for offset-only projections: with `timestamp` in the
    // projection the reader must parse records (rowOf's -1 sentinel is
    // guarded by a require on the fast path), so every ts is real
    val seg = LogSource.parseIndex(root).head
    val r = new LogPartitionReader(LogInputPartition(Seq(LogSource.SegmentRead(seg,
      LogSource.Bounds(None, Long.MinValue, Long.MaxValue,
        Long.MinValue, Long.MaxValue)))),
      Seq("offset", "timestamp"))
    val ts = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (r.next()) ts += r.get().getLong(1)
    r.close()
    assert(ts.nonEmpty && ts.forall(_ >= 0), ts.mkString(","))
    // and end-to-end through Spark: no -1 anywhere in the table
    assert(table.where(col("timestamp") < 0).count() === 0)
  }

  test("unsupported filters stay with Spark, supported ones bind exactly") {
    // value-based predicate is NOT pushable; correctness must hold
    val n = table.where(col("value").cast("string") === "v3").count()
    assert(n === 2) // one per partition
    val mixed = table.where(col("partition") === 0 &&
      col("value").cast("string") === "v3")
    assert(mixed.count() === 1)
    assert(mixed.queryExecution.executedPlan.toString
      .contains("segments=2/4"))
  }

  /** Writes `segs` segments of `perSeg` records (batches of 3) for each
    * partition, from offset `from`; returns their index lines. */
  private def writeSegments(dir: String, partitions: Seq[Int], segs: Int,
      perSeg: Int, from: Long = 0L, valueBytes: Int = 0): Seq[String] =
    for (p <- partitions; s <- 0 until segs) yield
      LogSource.writeSegment(dir, p, (0 until perSeg).map { i =>
        val o = from + s * perSeg + i
        (o, 1000L * p + o, s"k$p-$o".getBytes("UTF-8"),
          (s"v$p-$o" + "x" * valueBytes).getBytes("UTF-8"))
      }, batchRecords = 3)

  // 4 partitions x 16 segments x (2 batches of 3 records)
  private lazy val manySegments: String = {
    val dir = Files.createTempDirectory("logsource_packed").toString
    LogSource.writeIndex(dir, writeSegments(dir, 0 until 4, segs = 16, perSeg = 6))
    dir
  }

  private def readsOf(parts: Array[InputPartition]): Seq[Seq[LogSource.SegmentRead]] =
    parts.toSeq.map(_.asInstanceOf[LogInputPartition].reads)

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("packing: 64 tiny segments plan fewer tasks than segments, each segment once in index order") {
    val parts = new LogScanBuilder(manySegments).build().asInstanceOf[LogScan]
      .planInputPartitions()
    assert(parts.length > 1 && parts.length < 64, parts.length)
    assert(readsOf(parts).flatten.map(_.segment) === LogSource.parseIndex(manySegments))
  }

  test("packing: collect() without orderBy returns every row, each partition's in offset order") {
    val rows = spark.read.format("graftlog").option("path", manySegments).load()
      .select(col("partition"), col("offset"), col("timestamp"),
        col("key").cast("string"), col("value").cast("string"))
      .collect().map(_.toSeq).toSeq
    // index order: partition by partition, each in offset order
    val expected = for (p <- 0 until 4; o <- 0L until 96L)
      yield Seq(p, o, 1000L * p + o, s"k$p-$o", s"v$p-$o")
    assert(rows === expected)
  }

  test("packing: a segment larger than the split size gets a task of its own") {
    val dir = Files.createTempDirectory("logsource_big").toString
    val small1 = writeSegments(dir, Seq(0), segs = 3, perSeg = 3)
    val big = writeSegments(dir, Seq(0), segs = 1, perSeg = 6, from = 9,
      valueBytes = 2048)
    val small2 = writeSegments(dir, Seq(0), segs = 3, perSeg = 3, from = 15)
    LogSource.writeIndex(dir, small1 ++ big ++ small2)
    val bigPath = LogSource.parseIndex(dir).find(_.baseOffset == 9).get.path
    val parts = withConfs("spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "64") {
      new LogScanBuilder(dir).build().asInstanceOf[LogScan].planInputPartitions()
    }
    val reads = readsOf(parts)
    assert(reads.flatten.map(_.segment) === LogSource.parseIndex(dir))
    assert(reads.filter(_.exists(_.segment.path == bigPath)).map(_.size) === Seq(1))
    assert(parts.length < 7, reads.map(_.map(_.segment.baseOffset)))
  }

  test("packing: a pushed limit(3) over one packed task returns 3 rows and stops early") {
    val (parts, rows) = withConfs("spark.sql.files.minPartitionNum" -> "1") {
      val b = new LogScanBuilder(root); b.pushLimit(3)
      (b.build().asInstanceOf[LogScan].planInputPartitions(),
        table.limit(3).select("partition", "offset").collect().map(_.toSeq).toSeq)
    }
    assert(parts.length === 1 && readsOf(parts).head.size === 4)
    assert(rows === Seq(Seq(0, 0L), Seq(0, 1L), Seq(0, 2L)))
    val r = new LogPartitionReader(parts.head.asInstanceOf[LogInputPartition],
      Seq("partition", "offset", "value"))
    var n = 0
    while (r.next()) n += 1
    r.close()
    assert(n === 3)
    // the first batch of the first segment holds the 3 rows: nothing
    // past it is read
    val first = LogSource.parseIndex(root).head.path
    assert(r.bytesFetched < Files.size(java.nio.file.Paths.get(first)), r.bytesFetched)
  }

  test("packing: runtime partition filters drop segments before any task starts") {
    import org.apache.spark.sql.sources.{In => SIn}
    val scan = new LogScanBuilder(manySegments).build().asInstanceOf[LogScan]
    scan.filter(Array[org.apache.spark.sql.sources.Filter](SIn("partition", Array(1, 3))))
    val reads = readsOf(scan.planInputPartitions()).flatten
    assert(reads.map(_.segment) ===
      LogSource.parseIndex(manySegments).filter(s => s.partition == 1 || s.partition == 3))
  }

  test("packing: a streaming drain over many small segments reads each offset exactly once") {
    val dir = Files.createTempDirectory("logsource_stream_packed").toString
    val ckpt = Files.createTempDirectory("logsource_stream_packed_ckpt").toString
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val tasks = scala.collection.mutable.ArrayBuffer.empty[Int]
    def drain(): Unit =
      spark.readStream.format("graftlog").option("path", dir).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("partition", "offset").collect()
          seen.synchronized {
            seen ++= rows.map(r => (r.getInt(0), r.getLong(1)))
            tasks += df.rdd.getNumPartitions
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    lines ++= writeSegments(dir, Seq(0, 1), segs = 20, perSeg = 3)
    LogSource.writeIndex(dir, lines.toSeq)
    drain()
    lines ++= writeSegments(dir, Seq(0, 1), segs = 20, perSeg = 3, from = 60)
    LogSource.writeIndex(dir, lines.toSeq)
    drain()
    assert(seen.toSeq.sorted === (for (p <- 0 until 2; o <- 0L until 120L) yield (p, o)))
    assert(tasks.nonEmpty && tasks.forall(_ < 40), tasks)
  }
}
