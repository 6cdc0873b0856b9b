package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{Sampling, TextAnalysis}
import graft.log.RecordLog

/**
 * Physical-plan assertions for the scale-critical properties the
 * operators claim in their scaladocs. Correctness tests prove the
 * VALUES; these prove the PLAN — that filters reach the parquet scan,
 * small sides broadcast instead of shuffling the big side, aggregates
 * do map-side partial combine, and hot expressions stay inside
 * whole-stage codegen. A regression here is invisible at test SF but
 * fatal at 100 TB, which is exactly why it's pinned in CI.
 */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private lazy val logDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("plan_log").toString
    (0 until 4).flatMap(p => (0L until 100L).map(o => (p, o, o * 10, s"v$o")))
      .toDF("partition", "offset", "timestamp", "value")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("fetch pushes partition+offset predicates into the parquet scan") {
    val p = plan(RecordLog.fetch(spark.read.parquet(logDir), 2, 40L, 10))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("EqualTo(partition,2)"), p)
    assert(p.contains("GreaterThanOrEqual(offset,40)"), p)
  }

  test("timequery pushes the timestamp bound and partial-aggregates the min") {
    val p = plan(RecordLog.offsetsForTimestamp(
      spark.read.parquet(logDir), col("timestamp"), lit(500L)))
    assert(p.contains("GreaterThanOrEqual(timestamp,500)"), p)
    // map-side combine: a partial min under the shuffle, final above it
    assert(p.contains("partial_min"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("appendBatch broadcasts the HWM side, never sort-merge-joins the batch") {
    val batch = (0L until 1000L).map(i => (i % 4, i, s"v$i")).toDF("pt", "arrival", "value")
    val hwm = Seq((0, 100L), (1, 200L), (2, 300L), (3, 400L)).toDF("partition", "hwm")
    val p = plan(RecordLog.appendBatch(batch, hwm, col("pt").cast("int"), col("arrival")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scalable offset assignment broadcasts chunk bases back to the data") {
    val df = (0L until 1000L).map(i => (i % 4, i)).toDF("pt", "arrival")
    val p = plan(RecordLog.assignOffsetsScalable(
      df, col("pt"), col("arrival"), floor(col("arrival") / 64)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("wire ingest is one window over batch rows: one Exchange, no join or union, one decode") {
    import graft.functions.RecordBatchCodec
    // an RDD source: a local relation would fold the decode at planning time
    val wires = spark.sparkContext.parallelize((0L until 8L).map { a =>
      val recs = (0 until 3).map(d => RecordBatchCodec.Rec(d, 0L, null, Array[Byte](1), Nil))
      ((a % 2).toInt, a, RecordBatchCodec.encode(0L, 0, 0.toShort, 0L, 0L, -1L, 0.toShort, 0, recs))
    }, 2).toDF("partition", "arrival", "wire")
    val p = plan(RecordLog.wireIngest(wires, col("wire"), col("partition"), col("arrival")))
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join") && !p.contains("BroadcastExchange") && !p.contains("Union"), p)
    assert("kafka_batch_decode".r.findAllIn(p).size == 1, p)
  }

  test("datalake readTable prunes snapshot directories at planning time — no join") {
    val out = java.nio.file.Files.createTempDirectory("plan_dl").toString
    val ev = (0L until 100L).map(i => (i, new java.sql.Timestamp(86400000L * (i % 3))))
      .toDF("event_id", "ts")
    graft.streaming.Datalake.commit(ev, col("ts"), out,
      partFn = graft.streaming.Datalake.dayPartition)
    val p = plan(graft.streaming.Datalake.readTable(spark, out))
    // live snapshot ids are bounded metadata → a literal IN on the
    // snapshot_id partition directory (PartitionFilters), not a join
    // that would list and footer-read expired directories first
    assert(p.contains("PartitionFilters") && p.contains("snapshot_id"), p)
    assert(!p.contains("Join"), p)
  }

  private lazy val docsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("plan_docs").toString
    (0L until 100L).map(i => (i, s"the quick brown fox $i", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("repetition signals (full battery) are one shuffle-free projection") {
    val p = plan(TextAnalysis.repetitionSignals(
      spark.read.parquet(docsDir), col("doc_id"), col("text")))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("bm25 filters the corpus to query terms via broadcast before any shuffle") {
    val q = Seq("the", "quick").toDF("term")
    val p = plan(TextAnalysis.bm25TopK(
      spark.read.parquet(docsDir), col("doc_id"), col("text"), q, k = 5))
    // the query-term cut is a BroadcastHashJoin under the aggregate;
    // the final cut is a TakeOrdered, never a global Sort
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrdered"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("fineweb funnel joins stay keyed — no cartesian product on data sides") {
    val docs = spark.read.parquet(docsDir)
    val buckets = docs.select(col("doc_id"),
      (col("doc_id") % 3).cast("long").as("score_u"),
      when(col("doc_id") % 3 === 0, "head").otherwise("tail").as("bucket"))
    val p = plan(graft.analytics.CleanPipeline.fineWebFunnel(
      docs, col("doc_id"), col("text"), buckets))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fuzzy fineweb funnel: no cartesian product on data sides") {
    val docs = spark.read.parquet(docsDir)
    val buckets = docs.select(col("doc_id"),
      (col("doc_id") % 3).cast("long").as("score_u"),
      when(col("doc_id") % 3 === 0, "head").otherwise("tail").as("bucket"))
    val p = plan(graft.analytics.CleanPipeline.fineWebFunnelFuzzy(
      docs, col("doc_id"), col("text"), buckets))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("url blocklist and html extraction are narrow projections — no join, no Exchange") {
    val df = spark.read.parquet(docsDir)
    val pu = plan(df.select(graft.analytics.Dedup.urlBlocked(
      concat(lit("https://x.example/"), col("doc_id")),
      Seq("evil.example", "ads.example"), Seq("casino", "poker")).as("b")))
    // blocklists fold into one conditional over literal arrays
    assert(!pu.contains("Join"), pu)
    assert(!pu.contains("Exchange"), pu)
    val ph = plan(df.select(TextAnalysis.htmlToText(col("text")).as("t")))
    assert(!ph.contains("Exchange"), ph)
    assert(!ph.contains("Generate"), ph)
  }

  test("parity signatures from text partial-aggregate before the exchange") {
    val df = spark.read.parquet(docsDir)
    val p = plan(graft.analytics.Dedup.minHashSignaturesParityFromText(
      df, col("doc_id"), col("text"), 3, 8))
    // the explode stays inside the scan stage; map-side partial mins
    // collapse to one row per doc before the single exchange
    assert(p.contains("partial_min"), p)
    assert(p.split("Exchange").length - 1 === 1, p)
  }

  test("multi-query bm25 fans out via broadcast; the per-query cut is a rank window") {
    val df = spark.read.parquet(docsDir)
    val queries = Seq((900L, "alpha beta"), (901L, "gamma delta"))
      .toDF("query_id", "text")
    val p = plan(graft.analytics.Retrieval.bm25PerQuery(
      df, col("doc_id"), col("text"), queries, k = 5))
    // query vocabulary and stat tables broadcast — no shuffled join of
    // the corpus against the query side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gopher rules and c4 rules are narrow projections — no Exchange") {
    val df = spark.read.parquet(docsDir)
    val pg = plan(TextAnalysis.gopherRules(df, col("doc_id"), col("text")))
    val pc = plan(TextAnalysis.c4Rules(df, col("doc_id"), col("text")))
    assert(!pg.contains("Exchange"), pg)
    assert(!pc.contains("Exchange"), pc)
  }

  test("repetition features are one shuffle-free projection — no Exchange") {
    val p = plan(TextAnalysis.repetitionFeatures(
      spark.read.parquet(docsDir), col("doc_id"), col("text")))
    // both n-gram modes fold per-document arrays; the corpus never
    // shuffles, so the plan is scan → project with zero exchanges
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p) // no explode either
  }

  test("stratified sampling broadcasts the rate table, no data-side shuffle") {
    val rows = spark.read.parquet(docsDir)
    val p = plan(Sampling.stratifiedSample(rows, col("doc_id"), col("lang"),
      Map("l0" -> 0.5), defaultRate = 0.1))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only Exchange is the broadcast of the tiny rate table
    assert(!p.replace("BroadcastExchange", "").contains("Exchange"), p)
  }

  test("ACL authorization broadcasts the binding set over the request stream") {
    val acls = Seq(("u", "*", "topic", "literal", "t", "read", "allow"))
      .toDF("principal", "host", "resource_type", "pattern_type",
        "resource_name", "operation", "permission")
    val reqs = spark.read.parquet(docsDir)
      .select(col("lang").as("principal"), lit("h").as("host"), lit("read").as("operation"),
        lit("topic").as("resource_type"), lit("t").as("resource_name"))
    val p = plan(graft.security.Acls.authorize(reqs, acls))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("temperature mixture broadcasts the rate table, one narrow corpus pass") {
    val rows = spark.read.parquet(docsDir)
    val p = plan(Sampling.temperatureMixture(rows, col("doc_id"), col("lang")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text quality features are one narrow projection over the scan") {
    val docs = spark.read.parquet(docsDir)
    val p = plan(TextAnalysis.qualityFeatures(docs, col("text"), col("doc_id")))
    // no shuffle, no join, no sort — a single Project whose scan stage is
    // codegen'd (the `*(n)` marker; the higher-order `filter` lambda
    // itself is interpreted — Spark has no codegen for lambda exprs —
    // but it remains a per-row narrow expression at scan parallelism)
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"), p)
    assert(p.contains("*("), p)
    assert(p.contains("FileScan parquet"), p)
  }

  test("vocabulary top-k is TakeOrdered over partial-aggregated counts, not a global sort") {
    val docs = Seq((0L, "a b c a")).toDF("doc_id", "text")
    val p = plan(TextAnalysis.vocabulary(docs, col("text"), 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("partial count"), p)
  }

  test("line dedup has no window and no sort over the corpus; reassembly is a hash aggregate") {
    val rows = spark.read.parquet(docsDir)
    val p = plan(graft.analytics.Dedup.dedupLines(rows, col("doc_id"), col("text"), 2))
    assert(!p.contains("Window"), p)
    // order is restored per-document from the exploded position via
    // array_sort inside the aggregate, not a corpus-wide Sort node
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate") ||
      p.contains("SortAggregate"), p)
  }

  test("DSIR broadcasts the bucket model and cuts top-k without a global sort") {
    val raw = (0L until 500L).map(i => (i, s"w${i % 7} w${i % 11} w${i % 13} w${i % 17}"))
      .toDF("doc_id", "text")
    val target = raw.where(col("doc_id") % 5 === 0)
    val p = plan(Sampling.importanceResample(raw, target, col("doc_id"), col("text"), k = 50))
    // the per-bucket LLR model and the selected-id set broadcast, and
    // the k cut is a TakeOrdered, never a full Sort over the corpus.
    // (The scores→ids resurrection join is corpus-to-corpus keyed on
    // doc_id — a shuffle join IS its scale-correct shape, so no blanket
    // no-SMJ assertion here.)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the LLR model side joins broadcast: no shuffle join keyed on bucket
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("doc_id"), s"non-doc-keyed shuffle join: $l\n$p")
    }
  }

  test("replica selection broadcasts control-plane tables — consumer stream never shuffles") {
    val nodes = Seq((0L, "r1", false), (1L, "r2", false)).toDF("node_id", "rack", "maintenance")
    val reps = Seq(("t", 0, 0L, true, 10L, 10L, true), ("t", 0, 1L, false, 10L, 10L, true))
      .toDF("topic", "partition", "node_id", "is_leader",
        "high_watermark", "log_end_offset", "is_alive")
    val cons = (0L until 100L).map(i => (s"c$i", "t", 0, 0L, "r1"))
      .toDF("client", "topic", "partition", "fetch_offset", "rack")
    val p = plan(graft.log.ReplicaSelector.selectPreferredReplicas(cons, reps, nodes))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("perplexity bucketing range-partitions the rank — no corpus-wide window") {
    val scored = (0L until 1000L).map(i => (i, 10L + i % 7, -(i % 900) * 1000L))
      .toDF("doc_id", "n_bigrams", "sum_logp_u")
    val p = plan(graft.analytics.Sampling.perplexityBuckets(scored))
    // the global rank is partition-local row_number + broadcast bases
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("initProducerIds range-partitions identities — no global-window sort") {
    val producers = (0L until 1000L).map(i => (f"tx-$i%04d", i)).toDF("txid", "first_seen")
    // force the large-input path: the default size gate would route 1000
    // rows to the single-partition rank (pinned separately below)
    val p = plan(graft.log.TxnEngine.initProducerIds(producers, col("txid"),
      smallInputMaxRows = 0))
    // the identity rank runs inside range partitions with broadcast
    // prefix bases — never one single-partition window over the table
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w =>
      assert(w.contains("__part"), s"window not partition-scoped: $w\n$p"))
  }

  test("write-caching fold shuffles once by partition — no global sort") {
    val log = (0 until 100).map(i => (i % 4, i.toLong, i.toLong * 3, 50L))
      .toDF("partition", "offset", "ts_ms", "bytes")
    val p = plan(graft.log.WriteCaching.flushAccounting(log, col("partition"),
      col("offset"), col("ts_ms"), col("bytes"), cachingEnabled = true,
      flushBytes = 1000L, flushMs = 500L))
    assert(p.contains("hashpartitioning"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the sort is partition-local (sortWithinPartitions), never global
    assert(!p.linesIterator.exists(l => l.contains("Sort") && l.contains("], true")), p)
  }

  test("self-test percentile windows are (node, test)-scoped — never fleet-wide") {
    val samples = (0 until 200)
      .map(i => (i % 3, if (i % 2 == 0) "disk" else "net", i.toLong, i.toLong % 97, 100L, true))
      .toDF("node", "test_type", "seq", "lat_us", "bytes", "ok")
    val p = plan(graft.admin.SelfTest.report(samples, col("node"), col("test_type"),
      col("seq"), col("lat_us"), col("bytes"), col("ok")))
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("node"), s"fleet-wide window: $w\n$p"))
  }

  test("expiry sweep broadcasts the expired-key set against the end stream") {
    val data = (0 until 500).map(i => (i % 4, i.toLong, (i % 50).toLong, 0, 0L))
      .toDF("partition", "arrival", "pid", "epoch", "txn_seq")
    val ends = (0 until 25).map(i => (i.toLong, 0L, "commit", 600L + i))
      .toDF("pid", "txn_seq", "decision", "arrival")
    val (applied, rejected) = graft.log.TxnEngine.expireSweep(data, ends, 100L, 550L)
    Seq(applied, rejected).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("sliding-window compaction windows stay partition-scoped; bounds broadcast") {
    val log = (0 until 400).map(i => (i % 4, i.toLong, s"k${i % 37}"))
      .toDF("partition", "offset", "key")
    val (compacted, _) = graft.log.Compaction.slidingWindowCompact(log,
      col("partition"), col("offset"), col("key"), segSize = 20L, maxKeys = 15L)
    val p = plan(compacted)
    // the occupancy prefix-sum runs over the tiny (partition × segment)
    // table and the LWW rank inside (partition, segment, key) — no
    // window may span a whole partition of DATA rows unscoped
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("__p"), s"unscoped window: $w\n$p"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bloom probe joins on int positions — no cartesian, no corpus broadcast") {
    val keys = (0 until 500).map(i => s"k$i").toDF("key")
    val bits = graft.analytics.Dedup.bloomBits(keys, col("key"), 4096L, 3)
    val cands = (0 until 500).map(i => (i.toLong, s"c$i")).toDF("id", "key")
    val p = plan(graft.analytics.Dedup.bloomProbe(cands, col("id"), col("key"),
      bits, 4096L, 3))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("language-id classification is one shuffle-free in-row pass") {
    // parquet-backed docs: a LocalRelation would constant-fold the whole
    // classify into a LocalTableScan and erase the plan under test
    val docs = spark.read.parquet(docsDir)
      .select(col("doc_id"), (col("doc_id") % 2).cast("string").as("lang"),
        col("text"))
    val profiles = graft.analytics.TextAnalysis.languageProfiles(
      docs, col("lang"), col("text"))
    val p = plan(graft.analytics.TextAnalysis.classifyByProfile(
      docs, col("doc_id"), col("text"), profiles))
    // the fused classifier kernel carries the (bounded) profile table in
    // its closure: no docs × langs exchange, no per-doc aggregation
    // shuffle, no window, no join — the corpus never leaves its tasks
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("profile_classify"), p)
    // the profile TRAINING side keeps its per-lang window scoping
    val tp = plan(profiles)
    val windows = tp.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, tp)
    windows.foreach(w => assert(w.contains("lang"), s"unscoped window: $w\n$tp"))
  }

  test("initProducerIds small-input gate skips the chunked shuffles") {
    val producers = (0L until 1000L).map(i => (f"tx-$i%04d", i)).toDF("txid", "first_seen")
    val p = plan(graft.log.TxnEngine.initProducerIds(producers, col("txid")))
    // control-plane-sized input: one rank, no range repartition, no join
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  // Every window in these two txn-path plans must be chunk-scoped: either
  // the prefix-sum over the tiny (partition × chunk) count table or a
  // chunk-local rank — never a monolithic per-partition pass over the log.
  private def assertChunkedWindowsOnly(p: String): Unit = {
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("__chunk"), s"non-chunked window: $w\n$p"))
  }

  test("offset translation is two-phase chunked — broadcast bases, no full-partition window") {
    val log = (0L until 1000L).map(i =>
      (i % 4, i / 4, i % 7 == 0, if (i % 11 == 0) 10 else 1))
      .toDF("partition", "offset", "is_control", "batch_type")
    val p = plan(graft.log.TxnEngine.offsetTranslation(log))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assertChunkedWindowsOnly(p)
  }

  test("marker interleave is two-phase chunked — broadcast bases, no full-partition window") {
    val data = (0L until 1000L).map(i => (i % 4, i * 2, i % 10, 0, i / 50, s"v$i"))
      .toDF("partition", "arrival", "pid", "epoch", "txn_seq", "value")
    val ends = (0L until 20L).map(i => (i % 10, i / 10, "commit", 100000L + i))
      .toDF("pid", "txn_seq", "decision", "arrival")
    val p = plan(graft.log.TxnEngine.interleaveMarkers(data, ends))
    assert(p.contains("BroadcastHashJoin"), p)
    assertChunkedWindowsOnly(p)
  }

  test("fetch byte budget is two-phase chunked — broadcast offsets and bases, no full-partition window") {
    val log = (0L until 1000L).map(i => (i % 4, i / 4, 10L + i % 7))
      .toDF("partition", "offset", "bytes")
    val from = Seq((0, 0L), (1, 0L), (2, 5L), (3, 9L)).toDF("partition", "fetch_offset")
    val p = plan(RecordLog.fetchBudget(log, from, col("bytes"), maxBytes = 500L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assertChunkedWindowsOnly(p)
  }

  test("tiered read pushes the hot-tail offset bound into BOTH tier scans") {
    val tmp = java.nio.file.Files.createTempDirectory("plan_tiered").toString
    val log = spark.read.parquet(logDir)
    graft.log.TieredStorage.archive(log, col("timestamp"), lit(500L),
      s"$tmp/local", s"$tmp/archive")
    val p = plan(graft.log.TieredStorage.read(spark, s"$tmp/local", s"$tmp/archive")
      .where(col("offset") >= 90))
    // the bound reaches the parquet scans of BOTH tiers — a hot-tail
    // fetch prunes every cold-tier row group via min/max stats
    assert(p.sliding("GreaterThanOrEqual(offset,90)".length)
      .count(_ == "GreaterThanOrEqual(offset,90)") >= 2, p)
  }

  test("sequence packing is two-phase chunked — broadcast bases, bounded span explode") {
    val docs = spark.read.parquet(docsDir)
    val p = plan(TextAnalysis.packSequences(docs, col("doc_id"), col("text"), 64))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assertChunkedWindowsOnly(p)
  }

  test("audit coalescing is one partial-agg fold behind a codegen'd admission filter") {
    val events = (0L until 1000L).map(i =>
      (i, s"u${i % 10}", if (i % 2 == 0) "produce" else "fetch", s"t${i % 4}", "rw"))
      .toDF("seq", "principal", "event_type", "topic", "operation")
    val p = plan(graft.security.Audit.coalesce(events, 100L,
      Seq("produce", "fetch"), Seq("t3"), Seq("u7")))
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("hashed-linear classifier broadcasts the model; one partial-agg per doc, no window") {
    val docs = spark.read.parquet(docsDir)
    val weights = spark.range(64).selectExpr("id as bucket", "id % 5 - 2 as weight")
    val p = plan(graft.analytics.TextAnalysis.hashedLinearScore(
      docs, col("doc_id"), col("text"), weights, buckets = 64, bias = 1L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("commit batcher is two partial-agg folds — no window, no join on the progress stream") {
    val prog = (0L until 1000L).map(i => (s"t${i % 4}", (i % 8).toInt, 0, i, i * 2))
      .toDF("transform", "partition", "output_topic", "seq", "offset")
    val p = plan(graft.streaming.Transforms.commitBatcher(prog, intervalLen = 100L))
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("upsample broadcasts the factor table; fan-out is a bounded explode, no window") {
    val docs = spark.read.parquet(docsDir)
    val p = plan(graft.analytics.Sampling.upsampleRepeat(
      docs, col("doc_id"), col("lang"), Map("de" -> 2.5)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("Generate"), p) // the explode
  }

  test("offset expiry is a narrow filter over broadcast control-plane tables — no shuffle") {
    val offsets = (0L until 1000L).map(i =>
      (s"g${i % 3}", "t", (i % 8).toInt, i, 1000L + i, false))
      .toDF("group", "topic", "partition", "committed_offset", "commit_ts", "non_reclaimable")
    val meta = Seq(("g0", Some("consumer"), "Stable", None: Option[Long]))
      .toDF("group", "protocol_type", "state", "state_ts")
    val subs = Seq(("g0", "t")).toDF("group", "topic")
    val p = plan(graft.groups.ConsumerGroups.expireOffsets(
      offsets, meta, subs, nowMs = 10000L, retentionMs = 100L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("L0 packing is two-phase chunked — broadcast bases, no log-wide window") {
    val log = (0L until 1000L).map(i => ((i % 4).toInt, i / 4, i, 50L + i % 13))
      .toDF("partition", "offset", "arrival", "sz")
    val p = plan(graft.log.CloudTopics.packL0(log, col("arrival"), col("sz"), 4096L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assertChunkedWindowsOnly(p)
  }

  test("L1 reconciliation joins co-keyed on object id, never cartesian; lower_bound broadcasts probes") {
    val log = (0L until 1000L).map(i => ((i % 4).toInt, i / 4, i, 50L + i % 13))
      .toDF("partition", "offset", "arrival", "sz")
    val packed = graft.log.CloudTopics.packL0(log, col("arrival"), col("sz"), 512L)
    val l0 = graft.log.CloudTopics.overlay(packed, col("sz"))
    // the L0→L1 assignment table is log_bytes/objectBytes rows — the
    // join back must be a keyed join (hash or AQE-broadcast), never a
    // cartesian/nested-loop product over the extent table
    val pr = plan(graft.log.CloudTopics.reconcileL1(l0, 4096L))
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("BroadcastNestedLoopJoin"), pr)
    assertChunkedWindowsOnly(pr)
    val probes = Seq((1, 5L)).toDF("partition", "probe_offset")
    val pl = plan(graft.log.CloudTopics.lowerBound(l0, probes))
    assert(pl.contains("BroadcastHashJoin"), pl)
    assert(!pl.contains("SortMergeJoin"), pl)
  }

  test("IVF coarse assignment is a narrow argmin fold — no ML pass, no pre-topk shuffle beyond the list join") {
    import graft.analytics.Similarity
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 7 + j) % 5 / 4.0)))
      .toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val p = plan(Similarity.ivfTopK(corpus, queries, k = 3, nLists = 4, nProbe = 2))
    // probes ride a broadcast; the corpus side never sort-merge-joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("epoch shuffle is two-phase bucketed — broadcast bases, no corpus-wide window") {
    val docs = spark.read.parquet(docsDir)
    val p = plan(graft.analytics.Sampling.epochShuffle(docs, col("doc_id"), epoch = 3))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    // every window is bucket-scoped: the prefix sum over the <=65536-row
    // bucket table or the bucket-local rank — never a corpus-wide sort
    windows.foreach(w => assert(w.contains("__bucket"), s"non-bucketed window: $w\n$p"))
  }

  test("quota fold is one client shuffle plus an in-partition sort — no window, no join") {
    val reqs = (0L until 100L).map(i => (s"c${i % 4}", i * 7, i % 50, i))
      .toDF("client_id", "ts_ms", "bytes", "seq")
    val p = plan(graft.admin.Quota.tokenBucketThrottle(reqs,
      col("client_id"), col("ts_ms"), col("bytes"), col("seq"), 2, 100))
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("Exchange hashpartitioning(client_id"), p)
    assert(p.contains("Sort [client_id"), p)
  }

  test("fetch-session epoch fold is one session shuffle; responses broadcast the hwm table") {
    import graft.log.FetchSessions
    val reqs = (0L until 200L).map(i => (s"s${i % 4}", i, (i % 10).toInt))
      .toDF("session_id", "seq", "epoch")
    val pf = plan(FetchSessions.validateEpochs(reqs,
      col("session_id"), col("seq"), col("epoch")))
    assert(!pf.contains("Window") && !pf.contains("Join"), pf)
    assert(pf.contains("Exchange hashpartitioning(session_id"), pf)
    val parts = (0L until 200L).map(i => (s"s${i % 4}", i, "t", (i % 8).toInt, i % 40, i % 9 == 0))
      .toDF("session_id", "seq", "topic", "partition", "fetch_offset", "forget")
    val hwms = (0 until 8).map(p => ("t", p, 100L)).toDF("topic", "partition", "hwm")
    val d = FetchSessions.validateEpochs(reqs, col("session_id"), col("seq"), col("epoch"))
    val pr = plan(FetchSessions.incrementalResponses(parts, d, hwms))
    // the one-row-per-partition hwm table must broadcast, not shuffle the
    // response set; the only windows are per-session (era running count)
    assert(pr.contains("BroadcastHashJoin"), pr)
    assert(pr.contains("windowpartitionspecdefinition(session_id")
      || pr.contains("PartitionSpec: [session_id")
      || pr.contains("Window [sum"), pr)
  }

  test("PQ encode is narrow (no exchange) and the ADC scan joins nothing but a broadcast") {
    import graft.analytics.Similarity
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 7 + j) % 5 / 4.0)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(corpus, m = 4, k = 4)
    // encode: literal codebooks, per-row argmin folds — zero shuffles
    val pe = plan(Similarity.pqEncode(corpus, model).select("vec_id", "codes"))
    assert(!pe.contains("Exchange"), pe)
    assert(!pe.contains("Join"), pe)
    // ADC top-k: the query side broadcasts (codebook LUTs ride with it);
    // the compressed scan itself must not shuffle before the final
    // per-query top-k window
    val queries = corpus.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val pt = plan(Similarity.pqTopK(corpus, queries, model, k = 3))
    assert(pt.contains("BroadcastNestedLoopJoin") || pt.contains("BroadcastHashJoin"), pt)
    assert(!pt.contains("SortMergeJoin"), pt)
  }

  test("ANN training sample is a bounded top-k — GlobalLimit above the scan") {
    import graft.analytics.Similarity
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 7 + j) % 5 / 4.0)))
      .toDF("vec_id", "embedding")
    // the collect is TakeOrdered/GlobalLimit-bounded: driver memory is
    // MaxTrain rows at ANY corpus size, not corpus/trainMod rows
    val p = plan(Similarity.samplePlan(corpus, "embedding", trainMod = 2, maxTrain = 16))
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // and the capped sample path yields identical codebooks when the cap
    // doesn't bind (cap >= sample size) — determinism of the hash order
    val s1 = Similarity.collectSample(corpus, "embedding", 1, maxTrain = 1000)
    val s2 = Similarity.collectSample(corpus.repartition(7), "embedding", 1, maxTrain = 1000)
    assert(s1.map(_._1) == s2.map(_._1))
    val capped = Similarity.collectSample(corpus, "embedding", 1, maxTrain = 16)
    assert(capped.size == 16)
  }

  test("every banded candidate join is bucket-capped (minhash, simhash, embed-LSH)") {
    import graft.analytics.{Dedup, Similarity}
    val docs = (0L until 50L).map(i => (i, s"text body number $i with shared words"))
      .toDF("doc_id", "text")
    // the cap shows up as a __bsz count-aggregate + filter feeding the
    // self-join — its absence is the 100 TB quadratic-bucket regression
    val pm = plan(Dedup.lshCandidates(
      Dedup.minHashSignatures(Dedup.shingled(docs, col("doc_id"), col("text"), 2), 16), 16, 8))
    assert(pm.contains("__bsz"), pm)
    val ps = plan(Dedup.simHashNearDups(Dedup.simHash(docs, col("doc_id"), col("text"))))
    assert(ps.contains("__bsz"), ps)
    val corpus = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 3 + j) % 7).toDouble)))
      .toDF("vec_id", "embedding")
    val pc = plan(Similarity.cosineNearDups(corpus, dim = 8, threshold = 0.8))
    assert(pc.contains("__bsz"), pc)
  }

  test("snc exemption is one codegen'd conditional; node fold is one shuffle + sort") {
    val reqs = (0L until 100L).map(i =>
      ((i % 4).toInt, i, 1000L + i, s"client-${i % 7}", 20L + i % 50, 100L + i % 70))
      .toDF("node_id", "seq", "ts_ms", "client_id", "req_bytes", "resp_bytes")
    val p = plan(graft.admin.SncQuota.nodeThrottle(reqs,
      Seq(graft.admin.SncQuota.ControlGroup("internal",
        graft.admin.SncQuota.MatchRegex("client-[01]")),
        graft.admin.SncQuota.ControlGroup("anon", graft.admin.SncQuota.MatchMissing)),
      Some(12000L), Some(30000L), 30000L, 1000L))
    // group assignment folds into the projection: no join against a
    // group table, a single node-keyed shuffle feeds the fold
    assert(!p.contains("Join"), p)
    assert(p.contains("Exchange hashpartitioning(node_id"), p)
    assert(p.contains("Sort [node_id"), p)
  }

  test("segment-merger scan broadcasts manifest tails; cache trim broadcasts totals") {
    val segs = (0 until 4).flatMap(pt => (0L until 10L).map(c =>
      (pt, c * 50, c * 50 + 49, 1900L + c, c / 4)))
      .toDF("partition", "base_offset", "committed_offset", "size_bytes", "term")
    val p1 = plan(graft.log.SegmentMerger.scanRuns(segs, 6000L, 3000L, 1000L))
    assert(p1.contains("BroadcastHashJoin"), p1)
    assert(!p1.contains("SortMergeJoin"), p1)
    val files = (0 until 2).flatMap(n => (0L until 20L).map(i =>
      (n, s"p$n/seg-$i.log", 1000L + i, i * 37 % 97)))
      .toDF("node_id", "path", "size_bytes", "access_time")
    val p2 = plan(graft.log.CacheTrim.trim(files, 5000L, 100L))
    assert(p2.contains("BroadcastHashJoin"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
  }

  // URL-canonicalization dedup: the normalization must stay a narrow
  // scan-speed projection — the ONLY shuffle is the final hash
  // aggregate on the canonical key (no window, no join, one Exchange).
  test("url dedup is one hash aggregate over a narrow projection") {
    val crawls = (0L until 100L)
      .map(i => (i, s"HTTP://Ex.COM:80/p/${i / 3}?b=2&a=1&utm_s=x#f"))
      .toDF("doc_id", "url")
    val p = plan(graft.analytics.Dedup.urlDedup(crawls, col("doc_id"), col("url")))
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
  }

  // Two-phase chunked eviction schedule: the only windows over segment
  // rows are the per-(partition, level) round index and the chunk-local
  // rank; the visit-order prefix runs on the aggregated (level, round)
  // base table, broadcast back. The old single-task global sort spelled
  // windowspecdefinition(__lvl, __idx ASC, partition ASC) with no
  // partition clause — pin its absence.
  test("disk eviction schedule is two-phase chunked — broadcast bases, no schedule-wide sort") {
    val lv = graft.cluster.DiskSpaceManager.Levels
    val segs = (0 until 8).flatMap(pt => (0 until 5).map(sg =>
      (pt, lv(sg % 4), sg, 100L + sg)))
      .toDF("partition", "level", "seg", "size")
    val p = plan(graft.cluster.DiskSpaceManager.evictionSchedule(segs, 2000L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach { w =>
      val chunkScoped = w.contains("__chunk")
      val roundIndex = w.contains("partition") && w.contains("level")
      assert(chunkScoped || roundIndex, s"schedule-wide window: $w\n$p")
      assert(!(w.contains("__lvl") && w.contains("partition")),
        s"global visit-order sort resurfaced: $w\n$p")
    }
  }

  test("duplicate-span detection never opens a corpus-wide window") {
    val docs = (0L until 50L).map(i => (i, ("tok " * 30).trim + s" d$i"))
      .toDF("doc_id", "text")
    val p = plan(graft.analytics.TextAnalysis.duplicateSpans(
      docs, col("doc_id"), col("text"), k = 4))
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("doc_id"), s"non-doc-scoped window: $w\n$p"))
    // the window hashing runs through the native kernel, not the old
    // interpreted per-window HOF fold (AQE's pre-execution plan carries
    // no '*' codegen markers, so pin codegen-ability at the expression:
    // SpanWindowHashes implements doGenCode, i.e. is NOT CodegenFallback)
    assert(p.contains("span_window_hashes"), p)
    assert(!p.contains("aggregate(slice"), p)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val kernel = graft.functions.SpanWindowHashes(
      Literal.create(Seq(1L, 2L, 3L, 4L, 5L)), 4)
    assert(!kernel.isInstanceOf[CodegenFallback])
  }

  test("wasm transform shuffles once on partition and sorts within tasks") {
    val in = (0L until 400L).map(i => (i % 4, i, i * 10))
      .toDF("partition", "offset", "timestamp")
      .withColumn("key", col("offset").cast("string").cast("binary"))
      .withColumn("value", col("offset").cast("string").cast("binary"))
    val p = plan(graft.wasm.WasmTransform(in, graft.wasm.GuestModules.mirror))
    // exactly one exchange: the hash repartition on the Kafka partition —
    // per-partition VMs need co-located, offset-ordered feeds and nothing else
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"want 1 exchange, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(partition"), p)
    // the in-task sort that gives each VM its offset-ordered span
    assert(p.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains("offset") && !l.contains("global=true")), p)
  }

  test("SQ8 encode is a shuffle-free in-row projection; topK broadcasts queries") {
    import graft.analytics.Similarity
    val corpus = (0L until 200L)
      .map(i => (i, Seq.tabulate(8)(d => (i % 7 + d).toDouble)))
      .toDF("vec_id", "embedding")
    val model = Similarity.sqTrain(corpus)
    val encoded = Similarity.sqEncode(corpus, model)
    val pe = plan(encoded)
    assert(!pe.contains("Exchange"), pe)
    val queries = corpus.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top = Similarity.sqTopK(encoded,
      Similarity.sqEncode(queries, model, vecCol = "query_vec"), model, 5)
    val pt = plan(top)
    // the query side broadcasts; the only non-broadcast exchange is the
    // per-query window repartition
    assert(pt.contains("BroadcastExchange"), pt)
    assert(!pt.contains("SortMergeJoin") && !pt.contains("CartesianProduct"), pt)
  }

  test("AV header parse is a narrow mapPartitions pass - no shuffle, no join") {
    import graft.analytics.Multimodal
    implicit val s = spark
    val ids = spark.range(0, 64).map(java.lang.Long.valueOf(_))
    val parsed = Multimodal.parseAvHeaders(Multimodal.synthesizeAvMedia(ids))
    val p = plan(parsed.toDF())
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  // SFT curation shards by conv_id only: every window carries conv_id
  // in its partition clause and there is no cross-conversation join —
  // 100 TB of chat data hash-partitions once and every pass is
  // conversation-local.
  test("SFT validate/trim windows shard by conv_id; render is one hash aggregate") {
    import graft.analytics.Sft
    val turns = (0L until 200L).map(i => (i % 20, (i / 20).toInt,
        if ((i / 20) % 2 == 0) "user" else "assistant", s"content $i words"))
      .toDF("conv_id", "turn_idx", "role", "content")
    for (df <- Seq(Sft.validate(turns, 12), Sft.trimToBudget(turns, 64))) {
      val p = plan(df)
      assert(!p.contains("Join"), p)
      val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(ws.nonEmpty && ws.forall(_.contains("conv_id")), p)
    }
    val r = plan(Sft.render(turns))
    assert(!r.contains("Join"), r)
    assert(r.linesIterator.count(_.contains("Exchange")) === 1, r)
    // dedup: the conv-local signature aggregate, then windows keyed on
    // the 32-byte sig only — never on conversation content
    val d = plan(Sft.dedupByAssistant(turns))
    assert(!d.contains("Join"), d)
    val dw = d.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(dw.nonEmpty && dw.forall(_.contains("sig")), d)
  }

  test("curriculum: positions shard by stage; no join anywhere") {
    val docs = (0L until 64L).map(i => (i, i % 13)).toDF("doc_id", "d")
    val p = plan(graft.analytics.Sampling.curriculum(docs, col("doc_id"), col("d"), 4))
    assert(!p.contains("Join"), p)
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    // the per-stage position window is keyed; the only unkeyed window is
    // the declared exact-quantile rank (scaladoc'd as the certification
    // spelling — approx cut points at scale)
    assert(ws.exists(_.contains("stage")), p)
  }

  test("code quality and license detection are shuffle-free in-row projections") {
    val files = (0L until 64L).map(i => (i, s"line a $i\nline b\nSPDX-License-Identifier: MIT"))
      .toDF("doc_id", "text")
    for (df <- Seq(
        graft.analytics.TextAnalysis.codeQuality(files, col("doc_id"), col("text")),
        graft.analytics.TextAnalysis.licenseDetect(files, col("doc_id"), col("text")))) {
      val p = plan(df)
      assert(!p.contains("Exchange") && !p.contains("Join"), p)
    }
  }

  test("dup-span strip: every window shards by doc_id, no corpus-wide sort") {
    val docs = (0L until 40L).map(i =>
      (i, (0 until 30).map(j => s"t${(i * 31 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val p = plan(graft.analytics.TextAnalysis.stripDuplicateSpans(
      docs, col("doc_id"), col("text"), k = 4))
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("doc_id")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("IVF bitext mining never forms a cartesian product") {
    import graft.analytics.Bitext
    val src = (0L until 32L).map(i => (i, Seq((i % 7 + 1).toDouble,
      (i % 5 + 1).toDouble, 1.0))).toDF("src_id", "embedding")
    val tgt = (0L until 32L).map(i => (i + 100L, Seq((i % 5 + 1).toDouble,
      (i % 3 + 1).toDouble, 2.0))).toDF("tgt_id", "embedding")
    val p = plan(Bitext.marginMineIvf(src, tgt, k = 2, marginThresholdU = 0L,
      candK = 8, nLists = 4, nProbe = 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p) // probes broadcast to the lists
  }
}
