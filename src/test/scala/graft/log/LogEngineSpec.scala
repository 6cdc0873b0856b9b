package graft.log

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Operator semantics from the reference's own test scenarios:
  * offset assignment (produce), fetch bounds, Kafka timequery edge cases
  * (list_offsets.cc:146, log_reader.h:270-296), compaction + tombstone
  * retention (compaction_e2e_test.cc shapes), read_committed filtering. */
class LogEngineSpec extends SparkSpec {
  import spark.implicits._

  private def mkLog() = {
    // (partition key, arrival, key, ts, value-or-null)
    val rows = Seq(
      (0, 1L, "k1", "2024-01-01 00:00:00", "v1"),
      (0, 2L, "k2", "2024-01-01 00:01:00", "v2"),
      (0, 3L, "k1", "2024-01-01 00:02:00", "v3"),    // supersedes k1
      (0, 4L, "k2", "2024-01-01 00:00:30", null),    // tombstone, out-of-order ts
      (1, 5L, "k3", "2024-01-01 01:00:00", "v4"),
      (1, 6L, "k3", "2024-01-01 00:30:00", "v5"))    // non-monotonic ts
    val df = rows.toDF("p", "arrival", "key", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    RecordLog.assignOffsets(df, col("p"), col("arrival"))
  }

  test("produce assigns dense per-partition offsets in arrival order") {
    val log = mkLog()
    val p0 = log.where($"partition" === 0).orderBy("offset")
      .select("offset", "key").as[(Long, String)].collect()
    assert(p0.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(p0.map(_._2).toSeq === Seq("k1", "k2", "k1", "k2"))
    val p1 = log.where($"partition" === 1).orderBy("offset")
      .select("offset").as[Long].collect()
    assert(p1.toSeq === Seq(0L, 1L))
  }

  test("two-phase scalable offset assignment matches the window plan exactly") {
    val df = (0 until 200).map(i => ((i * 7) % 5, i.toLong)).toDF("p", "arrival")
    val plain = RecordLog.assignOffsets(df, col("p"), col("arrival"))
      .select("partition", "arrival", "offset").as[(Int, Long, Long)].collect().toSet
    val scalable = RecordLog.assignOffsetsScalable(df, col("p"), col("arrival"),
        chunkCol = floor(col("arrival") / 16))
      .select("partition", "arrival", "offset").as[(Int, Long, Long)].collect().toSet
    assert(scalable === plain)
  }

  test("appendBatch continues offsets from the high watermark") {
    val base = mkLog()
    val hwm = RecordLog.latestOffsets(base)
    val batch = Seq((0, 10L, "k9", "v9"), (0, 11L, "k9", "v10"), (2, 12L, "kN", "vN"))
      .toDF("p", "arrival", "key", "value")
    val appended = RecordLog.appendBatch(batch, hwm, col("p"), col("arrival"))
      .select("partition", "offset", "key").as[(Int, Long, String)].collect().toSet
    // partition 0 had hwm 4 => new offsets 4,5; partition 2 is new => 0
    assert(appended === Set((0, 4L, "k9"), (0, 5L, "k9"), (2, 0L, "kN")))
  }

  test("streaming produce appends dense offsets across micro-batch restarts") {
    import graft.streaming.{Produce, Transforms}
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("pr_in").toString
    val out = java.nio.file.Files.createTempDirectory("pr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pr_ckpt").toString
    val sch = StructType(Seq(StructField("p", IntegerType), StructField("arrival", LongType)))
    def write(ids: Range): Unit =
      ids.map(i => (i % 2, i.toLong)).toDF("p", "arrival").write.mode("append").parquet(in)
    val input = Transforms.PathInput(in, sch)

    write(0 until 10)
    Produce.appendStream(spark, input, out, ckpt, col("p"), col("arrival")).awaitTermination()
    write(10 until 16)
    Produce.appendStream(spark, input, out, ckpt, col("p"), col("arrival")).awaitTermination()

    val log = spark.read.parquet(out)
    val perPart = log.groupBy("partition").agg(count(lit(1)).as("n"),
      min("offset").as("lo"), max("offset").as("hi"))
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(perPart === Set((0, 8L, 0L, 7L), (1, 8L, 0L, 7L))) // dense 0..7 both partitions
    // arrival order preserved within each partition
    val p0 = log.where($"partition" === 0).orderBy("offset").select("arrival").as[Long].collect()
    assert(p0.toSeq === p0.toSeq.sorted)
  }

  test("LogAppendTime produce stamps the broker clock; CreateTime keeps producer stamps") {
    import graft.streaming.{Produce, Transforms}
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("lat_in").toString
    val out = java.nio.file.Files.createTempDirectory("lat_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lat_ckpt").toString
    val sch = StructType(Seq(StructField("p", IntegerType), StructField("arrival", LongType),
      StructField("timestamp", TimestampType)))
    (0 until 6).map(i => (i % 2, i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$i")))
      .toDF("p", "arrival", "timestamp").write.mode("append").parquet(in)
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    Produce.appendStream(spark, Transforms.PathInput(in, sch), out, ckpt,
        col("p"), col("arrival"),
        timestampType = "LogAppendTime", appendClock = () => lit(clock))
      .awaitTermination()
    val stamps = spark.read.parquet(out).select("timestamp")
      .as[java.sql.Timestamp].collect().toSet
    assert(stamps === Set(clock)) // every record re-stamped with the append clock

    // CreateTime (default) passes producer stamps through untouched
    val out2 = java.nio.file.Files.createTempDirectory("lat_out2").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("lat_ckpt2").toString
    Produce.appendStream(spark, Transforms.PathInput(in, sch), out2, ckpt2,
      col("p"), col("arrival")).awaitTermination()
    val kept = spark.read.parquet(out2).select("timestamp").as[java.sql.Timestamp].collect().toSet
    assert(kept.size === 6 && !kept.contains(clock))

    // batch-path semantic: stampTimestamp applies the same knob
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-02-02 00:00:00")))
      .toDF("offset", "produced_ts")
    val lat = RecordLog.stampTimestamp(df, "LogAppendTime", col("produced_ts"), lit(clock))
    assert(lat.select("timestamp").as[java.sql.Timestamp].head() === clock)
    val ct = RecordLog.stampTimestamp(df, "CreateTime", col("produced_ts"), lit(clock))
    assert(ct.select("timestamp").as[java.sql.Timestamp].head() ===
      java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))
    intercept[IllegalArgumentException] {
      RecordLog.stampTimestamp(df, "Bogus", col("produced_ts"), lit(clock))
    }
  }

  test("LogAppendTime produce requests that differ only in their clock compile once") {
    import graft.functions.RecordBatchCodec
    import graft.functions.RecordBatchCodec.Rec
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val topic = java.nio.file.Files.createTempDirectory("lat_compiles").toString
    val wireSchema = StructType(Seq(StructField("partition", IntegerType),
      StructField("arrival", LongType), StructField("wire", BinaryType)))
    val clocks = Seq(1717200000000L, 1717200001000L, 1717200002000L)
    // one produce request per clock: two partitions, one 3-record batch each
    val compiles = clocks.zipWithIndex.map { case (ts, req) =>
      val rows = (0 until 2).map { p =>
        val recs = (0 until 3).map(i => Rec(i, 0L, s"k$p-$i".getBytes("UTF-8"),
          s"r$req".getBytes("UTF-8"), Nil))
        Row(p, req.toLong, RecordBatchCodec.encode(0L, 0, 0.toShort, 0L, 0L, -1L,
          0.toShort, 0, recs, codec = 0))
      }
      val hwm = typedLit((0 until 2).map(p => p -> 3L * req).toMap)
      compilesDuring {
        val batches = spark.createDataFrame(java.util.Arrays.asList(rows: _*), wireSchema)
        val ingested = RecordLog.wireIngest(batches, col("wire"), col("partition"), col("arrival"))
        RecordLog.stampTimestamp(ingested.where(col("route") === "accept"),
            "LogAppendTime", lit(null), lit(ts))
          .select(col("partition"),
            (col("offset") + element_at(hwm, col("partition"))).as("offset"),
            col("timestamp"), col("key"), col("value"))
          .write.format("graftlog").mode("append").option("path", topic).save()
      }
    }
    assert(compiles.tail === Seq(0L, 0L), s"classes compiled per request: $compiles")
    val back = spark.read.format("graftlog").option("path", topic).load()
      .select(col("partition"), col("offset"), col("timestamp"), col("value").cast("string"))
      .as[(Int, Long, Long, String)].collect()
    assert(back.length === 18)
    assert(back.map(r => (r._3, r._4)).toSet ===
      clocks.zipWithIndex.map { case (ts, req) => (ts, s"r$req") }.toSet)
    assert(back.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ===
      Map(0 -> (0L until 9L), 1 -> (0L until 9L)))
  }

  test("fetch honors offset lower bound and max rows") {
    val got = RecordLog.fetch(mkLog(), 0, 1, 2).select("offset").as[Long].collect()
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("earliest/latest offsets = log start / high watermark") {
    val log = mkLog()
    val earliest = RecordLog.earliestOffsets(log).as[(Int, Long)].collect().toMap
    val hwm = RecordLog.latestOffsets(log).as[(Int, Long)].collect().toMap
    assert(earliest === Map(0 -> 0L, 1 -> 0L))
    assert(hwm === Map(0 -> 4L, 1 -> 2L))
  }

  test("timequery returns first offset with timestamp >= t (non-monotonic ts)") {
    val log = mkLog()
    // partition 1 has ts 01:00 (offset 0) then 00:30 (offset 1), i.e.
    // non-monotonic: both qualify for t=00:30, min offset = 0 (Kafka
    // semantics: first offset whose timestamp >= t).
    val t1 = RecordLog.offsetsForTimestamp(log, col("ts"), lit("2024-01-01 00:30:00").cast("timestamp"))
      .as[(Int, Long)].collect().toMap
    assert(t1(1) === 0L)
    // partition 0's max ts is 00:02 < 00:30 => absent (reference returns -1)
    assert(t1.get(0).isEmpty)
  }

  test("compaction keeps highest-offset record per key") {
    val got = Compaction.compact(mkLog(), Seq("partition", "key"))
      .select("partition", "key", "offset").as[(Int, String, Long)].collect().toSet
    assert(got === Set((0, "k1", 2L), (0, "k2", 3L), (1, "k3", 1L)))
  }

  test("sliding-window compaction: mapped keys fully dedupe, overflow keys per-segment") {
    // segSize 2: seg0 = offsets 0-1, seg1 = 2-3, seg2 = 4-5.
    // a @ 0,2,4 (last seg 2); b @ 1,3 (last seg 1); c @ 5 (last seg 2).
    val log = Seq(
      (0, 0L, "a"), (0, 1L, "b"), (0, 2L, "a"),
      (0, 3L, "b"), (0, 4L, "a"), (0, 5L, "c"))
      .toDF("partition", "offset", "key")
    // maxKeys 2: {a, c} fit (suffix at seg2 = 2); adding seg1's b
    // overflows → idx_start = 2. a and c dedupe fully; b keeps one
    // record PER SEGMENT until a later round.
    val (c1, s1) = Compaction.slidingWindowCompact(log, col("partition"),
      col("offset"), col("key"), segSize = 2L, maxKeys = 2L)
    assert(c1.select("offset").as[Long].collect().toSet === Set(1L, 3L, 4L, 5L))
    val st1 = s1.as[(Int, Long, Long, Boolean)].collect().head
    assert(st1 === ((0, 2L, 2L, false)))
    // maxKeys 3: everything fits — one round converges to full compact
    val (c2, s2) = Compaction.slidingWindowCompact(log, col("partition"),
      col("offset"), col("key"), segSize = 2L, maxKeys = 3L)
    assert(c2.select("offset").as[Long].collect().toSet === Set(3L, 4L, 5L))
    assert(s2.as[(Int, Long, Long, Boolean)].collect().head === ((0, 0L, 3L, true)))
  }

  test("tombstone survives until delete_retention then disappears") {
    val log = mkLog()
    val tomb = col("value").isNull
    // cutoff before tombstone ts => tombstone still visible
    val early = Compaction.compactWithTombstones(log, Seq("partition", "key"),
      tomb, col("ts"), lit("2024-01-01 00:00:00").cast("timestamp"))
    assert(early.where($"key" === "k2").count() === 1)
    // cutoff after tombstone ts => k2 gone, live keys unaffected
    val late = Compaction.compactWithTombstones(log, Seq("partition", "key"),
      tomb, col("ts"), lit("2024-06-01 00:00:00").cast("timestamp"))
    val keys = late.select("key").as[String].collect().toSet
    assert(keys === Set("k1", "k3"))
  }

  test("retention drops prefix older than cutoff") {
    val kept = RecordLog.retainAfter(mkLog(), col("ts"), lit("2024-01-01 00:01:00").cast("timestamp"))
    assert(kept.count() === 4)
  }

  test("delete_records truncates prefix") {
    assert(RecordLog.deleteRecords(mkLog(), 2).where($"partition" === 0).count() === 2)
  }

  test("read_committed drops aborted ranges; LSO caps at open tx") {
    val log = Seq(
      (0, 0L, 100L, "a"), (0, 1L, 100L, "b"), (0, 2L, 200L, "c"),
      (0, 3L, 100L, "d"), (0, 4L, 300L, "e"))
      .toDF("partition", "offset", "pid", "v")
    val aborted = Seq((100L, 0L, 1L)).toDF("pid", "first", "last")
    val filtered = Transactions.filterAborted(log, aborted)
    assert(filtered.select("v").as[String].collect().toSet === Set("c", "d", "e"))

    val openTx = Seq((0, 4L)).toDF("partition", "first_offset")
    val lso = Transactions.lastStableOffsets(log, openTx).as[(Int, Long)].collect().toMap
    assert(lso(0) === 4L)
    val rc = Transactions.readCommitted(log, aborted,
      Transactions.lastStableOffsets(log, openTx), isControl = lit(false))
    assert(rc.select("v").as[String].collect().toSet === Set("c", "d"))
  }

  test("group offset store returns latest commit per key") {
    val commits = Seq(
      ("g1", "t", 0, 10L, 1L), ("g1", "t", 0, 20L, 2L), ("g1", "t", 1, 5L, 3L),
      ("g2", "t", 0, 7L, 4L))
      .toDF("group", "topic", "partition", "committed_offset", "commit_seq")
    val got = graft.groups.ConsumerGroups.fetchOffsets(commits)
      .select("group", "partition", "committed_offset")
      .as[(String, Int, Long)].collect().toSet
    assert(got === Set(("g1", 0, 20L), ("g1", 1, 5L), ("g2", 0, 7L)))
  }

  test("offset_delete tombstones a key; a later commit resurrects it") {
    val commits = Seq(
      ("g1", "t", 0, 10L, 1L), ("g1", "t", 0, 20L, 2L), ("g1", "t", 1, 5L, 3L))
      .toDF("group", "topic", "partition", "committed_offset", "commit_seq")
    val deletes = Seq(
      ("g1", "t", 0, 0L),   // before both commits: superseded, key survives
      ("g1", "t", 1, 99L))  // after every commit: key removed
      .toDF("group", "topic", "partition", "commit_seq")
    val got = graft.groups.ConsumerGroups.deleteOffsets(commits, deletes)
      .select("group", "partition", "committed_offset")
      .as[(String, Int, Long)].collect().toSet
    assert(got === Set(("g1", 0, 20L)))
  }

  test("offset expiry: per-state KIP-211 policies, non_reclaimable always retained") {
    // retention 100ms, now = 1000
    val offsets = Seq(
      // Stable group: subscribed topic never expires, even when old
      ("gs", "sub", 0, 1L, 100L, false),
      // Stable group, unsubscribed topic: expires on commit_ts age
      ("gs", "other", 0, 2L, 100L, false),  // 900ms old -> expired
      ("gs", "other", 1, 3L, 950L, false),  // 50ms old -> retained
      // Empty group: ages on the state timestamp (empty since 850)
      ("ge", "t", 0, 4L, 999L, false),      // commit fresh but group long empty
      ("ge", "t", 7, 5L, 100L, true),       // non_reclaimable: retained anyway
      // Standalone (no protocol type): pure commit_ts aging
      ("gx", "t", 0, 6L, 100L, false),
      ("gx", "t", 1, 7L, 950L, false),
      // Rebalancing consumer group: never expires
      ("gr", "t", 0, 8L, 100L, false))
      .toDF("group", "topic", "partition", "committed_offset", "commit_ts", "non_reclaimable")
    val meta = Seq(
      ("gs", Some("consumer"), "Stable", None: Option[Long]),
      ("ge", Some("consumer"), "Empty", Some(850L)),
      ("gx", None: Option[String], "Standalone", None: Option[Long]),
      ("gr", Some("consumer"), "PreparingRebalance", None: Option[Long]))
      .toDF("group", "protocol_type", "state", "state_ts")
    val subs = Seq(("gs", "sub")).toDF("group", "topic")
    val view = graft.groups.ConsumerGroups.expireOffsets(
      offsets, meta, subs, nowMs = 1000L, retentionMs = 100L)
    val got = view.select("group", "topic", "partition", "expired")
      .as[(String, String, Int, Boolean)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(got(("gs", "sub", 0)) === false)
    assert(got(("gs", "other", 0)) === true)
    assert(got(("gs", "other", 1)) === false)
    assert(got(("ge", "t", 0)) === true)
    assert(got(("ge", "t", 7)) === false)
    assert(got(("gx", "t", 0)) === true)
    assert(got(("gx", "t", 1)) === false)
    assert(got(("gr", "t", 0)) === false)
    // ge loses every reclaimable offset but keeps the non_reclaimable one
    // -> NOT dead; with the pin removed it would be
    val dead = graft.groups.ConsumerGroups.deadGroups(view, meta)
      .as[(String, String)].collect().toMap
    assert(dead("ge") === "Empty")
    val viewNoPin = graft.groups.ConsumerGroups.expireOffsets(
      offsets.withColumn("non_reclaimable", lit(false)), meta, subs, 1000L, 100L)
    val dead2 = graft.groups.ConsumerGroups.deadGroups(viewNoPin, meta)
      .as[(String, String)].collect().toMap
    assert(dead2("ge") === "Dead")
    assert(dead2("gs") === "Stable")
  }

  test("delete_groups drops the whole group; later commits resurrect it") {
    val commits = Seq(
      ("g1", "t", 0, 10L, 1L), ("g1", "t", 1, 20L, 2L), ("g1", "t", 0, 30L, 8L),
      ("g2", "t", 0, 7L, 4L), ("g3", "t", 2, 9L, 5L))
      .toDF("group", "topic", "partition", "committed_offset", "commit_seq")
    val deletions = Seq(("g1", 5L), ("g2", 99L)).toDF("group", "commit_seq")
    val got = graft.groups.ConsumerGroups.deleteGroups(commits, deletions)
      .select("group", "partition", "committed_offset")
      .as[(String, Int, Long)].collect().toSet
    // g1: commits 1,2 die with the deletion at 5; the seq-8 commit is a
    // fresh incarnation. g2: deleted after everything. g3: untouched.
    assert(got === Set(("g1", 0, 30L), ("g3", 2, 9L)))
  }

  test("idempotent producer dedup keeps the first surviving record per (pid, seq)") {
    val log = Seq(
      (1L, 0, 100L, "first"), (1L, 0, 101L, "dup"), (1L, 1, 102L, "ok"), (2L, 0, 103L, "ok"))
      .toDF("pid", "seq", "arrival", "payload")
    val got = graft.groups.ConsumerGroups.dedupProducer(log, "pid", "seq", "arrival")
      .select("pid", "seq", "arrival", "payload", "attempts")
      .as[(Long, Int, Long, String, Long)].collect().toSet
    // the surviving row carries its payload; the duplicate's payload is gone
    assert(got === Set(
      (1L, 0, 100L, "first", 2L), (1L, 1, 102L, "ok", 1L), (2L, 0, 103L, "ok", 1L)))
  }

  test("sequence admission: duplicates, gaps, gap-fill, and epoch resets") {
    val log = Seq(
      (1L, 0, 0L, 1L), (1L, 0, 2L, 2L), (1L, 0, 1L, 3L), (1L, 0, 2L, 4L),
      (7L, 2, 0L, 1L), (7L, 3, 0L, 2L), (7L, 2, 5L, 3L))
      .toDF("pid", "epoch", "seq", "arrival")
    val got = graft.groups.ConsumerGroups.validateSequences(log)
      .select("pid", "arrival", "status").as[(Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 1L, "ok"), (1L, 2L, "out_of_order_sequence"), (1L, 3L, "ok"), (1L, 4L, "ok"),
      (7L, 1L, "ok"), (7L, 2L, "ok"), (7L, 3L, "fenced_epoch")))
  }

  test("epoch fencing drops writes from stale producer epochs") {
    val log = Seq((1L, 0, "old"), (1L, 1, "new1"), (1L, 1, "new2"), (2L, 0, "only"))
      .toDF("pid", "epoch", "v")
    val got = graft.groups.ConsumerGroups.fenceStaleEpochs(log, "pid", "epoch")
      .select("v").as[String].collect().toSet
    assert(got === Set("new1", "new2", "only"))
  }

  test("fetch byte budget: progress guarantee vs strict_max_bytes") {
    // p0: an oversized second batch; p1: first batch alone over budget
    val log = Seq(
      (0, 0L, 100L), (0, 1L, 5000L), (0, 2L, 100L), (0, 3L, 100L),
      (1, 0L, 1000L), (1, 1L, 50L))
      .toDF("partition", "offset", "bytes")
    val from = Seq((0, 0L), (1, 0L)).toDF("partition", "fetch_offset")
    // default max_bytes: a batch is delivered if the bytes BEFORE it are
    // under budget — p0 ships the 5000-byte batch (cum_before=100), p1
    // ships its oversized first batch (fetch.cc progress guarantee)
    val got = RecordLog.fetchBudget(log, from, col("bytes"), maxBytes = 200L)
      .select("partition", "offset").as[(Int, Long)].collect().toSet
    assert(got === Set((0, 0L), (0, 1L), (1, 0L)))
    // strict_max_bytes: only batches fitting ENTIRELY under the budget
    val strict = RecordLog.fetchBudget(log, from, col("bytes"), maxBytes = 200L,
        strict = true)
      .select("partition", "offset").as[(Int, Long)].collect().toSet
    assert(strict === Set((0, 0L)))
  }

  test("fetch byte budget honors per-partition fetch offsets") {
    val log = Seq((0, 0L, 10L), (0, 1L, 10L), (0, 2L, 10L), (0, 3L, 10L))
      .toDF("partition", "offset", "bytes")
    val from = Seq((0, 2L)).toDF("partition", "fetch_offset")
    val got = RecordLog.fetchBudget(log, from, col("bytes"), maxBytes = 15L)
      .select("offset", "cum_before").as[(Long, Long)].collect().toSet
    // scan starts at offset 2 and the byte count restarts there, so
    // offset 3 still ships (10 bytes before it < 15-byte budget)
    assert(got === Set((2L, 0L), (3L, 10L)))
  }

  test("tiered storage: archive split, manifest ranges, transparent union read") {
    val tmp = java.nio.file.Files.createTempDirectory("tiered").toString
    val log = (0L until 100L).map(i => ((i % 2).toInt, i / 2, i * 10, s"v$i"))
      .toDF("partition", "offset", "ts", "value")
    val manifest = TieredStorage.archive(log, col("ts"), lit(600L),
        s"$tmp/local", s"$tmp/archive")
      .select("tier", "partition", "base_offset", "last_offset", "n_records")
      .as[(String, Int, Long, Long, Long)].collect().toSet
    // ts < 600 <=> i < 60: 30 rows per partition archived (offsets 0-29)
    assert(manifest === Set(
      ("archive", 0, 0L, 29L, 30L), ("archive", 1, 0L, 29L, 30L),
      ("local", 0, 30L, 49L, 20L), ("local", 1, 30L, 49L, 20L)))
    val union = TieredStorage.read(spark, s"$tmp/local", s"$tmp/archive")
    assert(union.count() === 100L)
    // the union IS the original log (offset-dense per partition)
    val perPart = union.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"))
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(perPart === Set((0, 50L, 0L, 49L), (1, 50L, 0L, 49L)))
  }

  test("cloud-topics L0 packing: arrival-order byte prefix, extents, fetch resolution") {
    // 6 batches of 100 bytes across 2 partitions, 250-byte objects:
    // cum starts 0,100,200,300,400,500 -> objects 0,0,1(200<250? 200//250=0)...
    // object = cum_before // 250: 0,0,0,1,1,2
    val log = Seq(
      (0, 0L, 1L), (1, 0L, 2L), (0, 1L, 3L),
      (1, 1L, 4L), (0, 2L, 5L), (1, 2L, 6L))
      .toDF("partition", "offset", "arrival")
      .withColumn("sz", lit(100L))
    val packed = CloudTopics.packL0(log, col("arrival"), col("sz"), objectBytes = 250L)
    val ids = packed.select("arrival", "object_id").as[(Long, Long)].collect().toMap
    assert(ids === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
    val ov = CloudTopics.overlay(packed, col("sz"))
    val rows = ov.select("object_id", "partition", "base_offset", "last_offset", "bytes", "n_batches")
      .as[(Long, Int, Long, Long, Long, Long)].collect().toSet
    assert(rows === Set(
      (0L, 0, 0L, 1L, 200L, 2L), (0L, 1, 0L, 0L, 100L, 1L),
      (1L, 0, 2L, 2L, 100L, 1L), (1L, 1, 1L, 1L, 100L, 1L),
      (2L, 1, 2L, 2L, 100L, 1L)))
    // fetch partition 1 from offset 1 -> needs objects 1 and 2, not 0
    val need = CloudTopics.resolveFetch(ov, partition = 1, fromOffset = 1L)
      .select("object_id").as[Long].collect().toSet
    assert(need === Set(1L, 2L))
  }

  test("dl_stm MVCC: reconciliation swaps L0 for L1 extents; snapshots stay offset-identical") {
    val log = Seq(
      (0, 0L, 1L), (1, 0L, 2L), (0, 1L, 3L),
      (1, 1L, 4L), (0, 2L, 5L), (1, 2L, 6L))
      .toDF("partition", "offset", "arrival")
      .withColumn("sz", lit(100L))
    val packed = CloudTopics.packL0(log, col("arrival"), col("sz"), objectBytes = 250L)
    val l0 = CloudTopics.overlay(packed, col("sz"))   // objects 0,1,2
    val mvcc = CloudTopics.reconcileLog(l0, l1Bytes = 600L, l0AddedAt = 1L, version = 2L)
    def snapAgg(v: Long) = CloudTopics.snapshotAt(mvcc, v)
      .groupBy("partition")
      .agg(count(lit(1)).as("n"), min("base_offset").as("lo"),
        max("last_offset").as("hi"), sum("bytes").as("b"))
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    val v1 = snapAgg(1L)
    val v2 = snapAgg(2L)
    // same coverage, fewer extents: all 600 bytes fit one L1 object
    assert(v1 === Set((0, 2L, 0L, 2L, 300L), (1, 3L, 0L, 2L, 300L)))
    assert(v2 === Set((0, 1L, 0L, 2L, 300L), (1, 1L, 0L, 2L, 300L)))
    // lower_bound on v2: offset in range resolves; past-end probe is absent
    val probes = Seq((1, 1L), (1, 99L)).toDF("partition", "probe_offset")
    val lb = CloudTopics.lowerBound(CloudTopics.snapshotAt(mvcc, 2L), probes)
      .select("partition", "probe_offset", "object_id")
      .as[(Int, Long, Long)].collect().toSet
    assert(lb === Set((1, 1L, 0L)))
    // monotonic-version invariant (dl_version_monotonic_invariant)
    intercept[IllegalArgumentException] {
      CloudTopics.reconcileLog(l0, 600L, l0AddedAt = 2L, version = 2L)
    }
  }

  test("archive retention sweeps the cold tier; a fully-aged tier empties cleanly") {
    val tmp = java.nio.file.Files.createTempDirectory("tiered_ret").toString
    val log = (0L until 100L).map(i => ((i % 2).toInt, i / 2, i * 10, s"v$i"))
      .toDF("partition", "offset", "ts", "value")
    TieredStorage.archive(log, col("ts"), lit(600L), s"$tmp/local", s"$tmp/archive")
      .count()
    // retention keeps archived rows with ts >= 300: offsets 15-29 survive
    val swept = TieredStorage.archiveRetention(spark, s"$tmp/local",
        s"$tmp/archive", col("ts"), lit(300L), s"$tmp/archive_v2")
      .select("tier", "partition", "base_offset", "last_offset", "n_records")
      .as[(String, Int, Long, Long, Long)].collect().toSet
    assert(swept === Set(
      ("archive", 0, 15L, 29L, 15L), ("archive", 1, 15L, 29L, 15L),
      ("local", 0, 30L, 49L, 20L), ("local", 1, 30L, 49L, 20L)))
    // fully-aged cold tier: zero rows kept anywhere — manifest simply has
    // no archive rows (no schema-inference crash on the empty prefix)
    val drained = TieredStorage.archiveRetention(spark, s"$tmp/local",
        s"$tmp/archive", col("ts"), lit(100000L), s"$tmp/archive_v3")
      .select("tier", "partition", "base_offset", "last_offset", "n_records")
      .as[(String, Int, Long, Long, Long)].collect().toSet
    assert(drained === Set(
      ("local", 0, 30L, 49L, 20L), ("local", 1, 30L, 49L, 20L)))
  }
}
