package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.groups.ConsumerGroups
import graft.log.{Compaction, RecordLog, TxnEngine}
import graft.model.BatchType
import graft.operators.Operators

import graft.SparkEntry._

/** Driver-contract entries: A1-A7 aggregations, G1-G5 groups/idempotence, T1-T5 transactions, G4 assignment.
  *
  * Pure move out of the SparkEntry registry (round 15): the entry and
  * oracle text is byte-identical to its former in-line spelling; the
  * combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object AggGroupTxnEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- §2.4 aggregations (compaction/retention/usage) -----
    "a1_compaction" -> ((s, dir) =>
      Compaction.compact(eventLog(s, dir), Seq("partition", "user_id"))
        .select(col("partition"), col("user_id").as("key"), col("offset"), col("event_type"))
        .orderBy("partition", "key")),

    "a1_sliding_window" -> ((s, dir) => {
      // Memory-bounded sliding-window compaction (disk_log_impl.cc:560,
      // key_offset_map.h capacity): one round with a 120-key map over
      // 50-record segments — keys whose last write sits in the indexed
      // suffix dedupe fully, overflow keys keep one record per segment
      // until the window slides back. Stats + an exact survivor digest
      // per partition; the oracle replays the occupancy rule.
      val log = storedLog(s, dir)
        .withColumn("key", pmod(col("event_id"), lit(200)))
      val (compacted, stats) = Compaction.slidingWindowCompact(log,
        col("partition"), col("offset"), col("key"),
        segSize = 50L, maxKeys = 120L)
      val digest = compacted.groupBy("partition")
        .agg(count(lit(1)).as("n_after"), sum("offset").as("sum_offsets"))
      stats.join(digest, "partition").orderBy("partition")
    }),

    "a1_compact_delete" -> ((s, dir) =>
      // cleanup.policy=compact,delete (storage/types.h:658, housekeeping
      // in disk_log_impl.cc): retention truncates the aged prefix AND
      // key compaction dedups the remainder — last record per key among
      // records inside the retention window.
      Compaction.compact(
          RecordLog.retainAfter(eventLog(s, dir), col("ts"),
            lit("2024-01-20 00:00:00").cast("timestamp")),
          Seq("partition", "user_id"))
        .select(col("partition"), col("user_id").as("key"), col("offset"), col("event_type"))
        .orderBy("partition", "key")),

    "a2_tombstone_gc" -> ((s, dir) =>
      Compaction.compactWithTombstones(eventLog(s, dir), Seq("partition", "user_id"),
          isTombstone = col("event_type") === "error",
          tsCol = col("ts"),
          tombstoneCutoff = lit("2024-01-25 00:00:00").cast("timestamp"))
        .select(col("partition"), col("user_id").as("key"), col("offset"), col("event_type"))
        .orderBy("partition", "key")),

    "a4_retention" -> ((s, dir) =>
      RecordLog.retainAfter(eventLog(s, dir), col("ts"), lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy("partition")
        .agg(min("offset").as("new_start"), count(lit(1)).as("remaining"))
        .orderBy("partition")),

    "a4_retention_bytes" -> ((s, dir) => {
      // Size-based retention via the housekeeping path: retention.ms is
      // set loose (10y) so the `retention.bytes` budget is the binding
      // cut — keep the newest 16 KiB per partition, drop the prefix.
      val sz = length(col("props")) + length(col("event_type")) + lit(24)
      graft.admin.Admin.applyCleanupPolicy(eventLog(s, dir),
          policy = "delete",
          keyCols = Seq("partition", "user_id"),
          tsCol = col("ts"),
          now = lit("2024-02-01 00:00:00").cast("timestamp"),
          retentionMs = 10L * 365 * 86400 * 1000,
          retentionBytes = 16384L,
          sizeCol = sz)
        .groupBy("partition")
        .agg(count(lit(1)).as("remaining"), min("offset").as("new_start"),
          sum(sz.cast("long")).as("bytes"))
        .orderBy("partition")
    }),

    "a6_quota_throttle" -> ((s, dir) => {
      // A6 token-bucket throttle (quota_manager.cc): 4 clients replay
      // their request history through the secondary-sorted bucket fold;
      // all arithmetic integral (rate 2 tokens/ms, burst 1000), so the
      // DuckDB oracle reproduces the recurrence bit-exactly with a
      // recursive CTE.
      val reqs = events(s, dir).where(pmod(col("user_id"), lit(40)) < 4)
        .select(concat(lit("c"), pmod(col("user_id"), lit(40)).cast("string")).as("client_id"),
          unix_millis(col("ts")).as("ts_ms"),
          length(col("props")).cast("long").as("bytes"),
          col("event_id").as("seq"))
      graft.admin.Quota.tokenBucketThrottle(reqs, col("client_id"), col("ts_ms"),
          col("bytes"), col("seq"), ratePerMs = 2, burst = 1000)
        .select("client_id", "seq", "tokens", "throttle_ms")
        .orderBy("client_id", "seq")
    }),

    "snc_node_throttle" -> ((s, dir) =>
      // Node-wide (SNC) throughput quotas, snc_quota_manager.cc: a
      // bounded request window replays through the per-node in/eg
      // bucket fold — ordered-first-match control groups exempt
      // internal clients (regex) and anonymous connections (missing
      // client_id), receive debits ingress BEFORE the delay calc while
      // the response debits egress AFTER, and the requested delay is
      // min(max_delay, max(in, eg)). Integral math; the oracle replays
      // the recurrence with a recursive CTE.
      graft.admin.SncQuota.nodeThrottle(sncRequests(s, dir), SncGroups,
          inBps = Some(12000L), egBps = Some(30000L), maxDelayMs = 30000L,
          epochMs = 1700000000000L)
        .select("node_id", "seq", "client_id", "group", "exempt",
          "throttle_ms", "tokens_in", "tokens_eg")
        .orderBy("seq")),

    "snc_quota_probe" -> ((s, dir) => {
      // The snc_quotas_probe rollup: intake/egress traffic counted for
      // non-exempt connections only, throttled-request count, and the
      // effective quota metric.
      val reqs = sncRequests(s, dir)
      graft.admin.SncQuota.probes(
        graft.admin.SncQuota.nodeThrottle(reqs, SncGroups,
          inBps = Some(12000L), egBps = Some(30000L), maxDelayMs = 30000L,
          epochMs = 1700000000000L),
        reqs, Some(12000L), Some(30000L))
        .orderBy("node_id")
    }),

    "ct_cache_trim" -> ((s, dir) =>
      // Cloud-storage cache LRU eviction (cache_service.cc): per-node
      // byte-limit overage trims in access-time order to the
      // low-watermark target, skipping exempt/tmp/companion files, with
      // segment deletion taking its .tx/.index companions and their
      // bytes counting against the quota. The oracle replays the walk
      // as a recursive CTE over the same file table.
      graft.log.CacheTrim.trim(cacheFiles(s, dir),
          maxBytes = 120000L, maxObjects = 1000L, lowWatermarkPermille = 800)
        .orderBy("node_id", "path")),

    "asm_runs" -> ((s, dir) =>
      // Adjacent segment merger scan (archival/adjacent_segment_run.cc):
      // per partition, the first run of >1 small adjacent same-term
      // segments fitting the target size — with the one-segment corner
      // reset, the freeze-at-first-candidate stop, the remote
      // local-start cutoff, and the size-or-wedged acceptance rule. The
      // oracle replays the scan as a recursive CTE.
      graft.log.SegmentMerger.scanRuns(segManifest(s, dir),
          maxSize = 6000, minSize = 3000, localStartOffset = 1000)
        .orderBy("partition")),

    "asm_manifest" -> ((s, dir) => {
      // The manifest after one housekeeping round: run rows replaced by
      // the consolidated re-uploaded segment.
      val segs = segManifest(s, dir)
      graft.log.SegmentMerger.mergeManifest(segs,
          graft.log.SegmentMerger.scanRuns(segs,
            maxSize = 6000, minSize = 3000, localStartOffset = 1000))
        .orderBy("partition", "base_offset")
    }),

    "res_disk_eviction" -> ((s, dir) => {
      // Disk-space manager (resource_mgmt/storage.cc): usage over the
      // retention target builds a balanced eviction schedule — four
      // policy levels, round-robin across partitions within each,
      // marking until the (coefficient-adjusted) excess is covered.
      // Fixture levels: each partition's older half is local-retention
      // overshoot, the next quarter low-space (hinted on odd
      // partitions), the newest quarter active-segment; the disk is
      // exactly full with a 12.5% reservation and an 80%-of-usable
      // target, so ~30% of bytes must evict.
      val segs = storedLog(s, dir)
        .groupBy(col("partition"), floor(col("offset") / 50).as("seg"))
        .agg(sum(length(col("props")) + length(col("event_type")) + lit(24))
          .cast("long").as("size"))
      val mx = segs.groupBy("partition").agg(max("seg").as("ms"))
      val lv = segs.join(mx, "partition")
        .withColumn("level",
          when(col("seg") * 2 <= col("ms"), "local_retention")
            .when(col("seg") * 4 <= col("ms") * 3,
              when(pmod(col("partition"), lit(2)) === 0, "low_space_non_hinted")
                .otherwise("low_space_hinted"))
            .otherwise("active_segment"))
        .select("partition", "level", "seg", "size")
      val usage = lv.agg(sum("size")).head.getLong(0)
      val target = graft.cluster.DiskSpaceManager.targetSize(
        usage, reservationPercent = 12.5, targetPercent = Some(80.0), targetBytes = None)
      // coefficient 2: over-reclaim in anticipation of the next tick —
      // and the doubled excess overruns the local-retention level, so
      // the schedule demonstrably chains into the low-space levels
      val excess = graft.cluster.DiskSpaceManager.adjustedExcess(
        usage, target, segmentSize = 1000L, overageCoeff = 2.0)
      graft.cluster.DiskSpaceManager.levelEstimates(
          graft.cluster.DiskSpaceManager.evictionSchedule(lv, excess))
        .withColumn("target_size", lit(target))
        .withColumn("target_excess", lit(excess))
        .orderBy("level")
    }),

    "adm_self_test_report" -> ((s, dir) => {
      // Cluster self-test result reduction (self_test_rpc_types.h:261
      // self_test_result): request-level disk/net samples reduce to
      // exact rank-selected p50/p90/p99/p999/max latencies plus
      // integer-exact rps/bps/timeout accounting per (node, test).
      val samples = T(s, dir, "events").select(
        pmod(col("user_id"), lit(5)).as("node"),
        when(pmod(col("event_id"), lit(2)) === 0, "disk").otherwise("net").as("test_type"),
        col("event_id").as("seq"),
        (lit(100L) + pmod(col("event_id") * 7919, lit(5000))).as("lat_us"),
        (lit(512L) + pmod(col("event_id"), lit(1024))).as("bytes"),
        (pmod(col("event_id"), lit(53)) =!= 0).as("ok"))
      graft.admin.SelfTest.report(samples, col("node"), col("test_type"),
          col("seq"), col("lat_us"), col("bytes"), col("ok"))
        .orderBy("node", "test_type")
    }),

    "adm_self_test_status" -> ((s, dir) => {
      // Frontend status collection (self_test_rpc_types.h:33,39 +
      // self_test_frontend.h): heartbeating nodes report running at
      // their stage, finished nodes idle, missing nodes unreachable.
      import s.implicits._
      val nodes = (0 to 4).toDF("node")
      val hb = Seq((0, "disk", true), (1, "net", false),
        (2, "cloud", false), (3, "disk", true)).toDF("node", "stage", "done")
      graft.admin.SelfTest.statusView(nodes, hb).orderBy("node")
    }),

    "adm_debug_bundle" -> ((s, dir) => {
      // Debug-bundle service lifecycle (debug_bundle_service.cc,
      // types.h:122, error.h:22-33): the full command ladder — refused
      // double-initiate, stale-id cancel, the get_file error ladder,
      // TTL expiry — replayed as the single-shard fold; golden oracle.
      import s.implicits._
      val log = Seq(
        (1L, "get_file", "j0", true, 0L, 0L),
        (2L, "cancel", "j0", true, 0L, 0L),
        (3L, "initiate", "j1", true, 0L, 100L),
        (4L, "initiate", "j2", true, 0L, 200L),
        (5L, "get_file", "j1", true, 0L, 300L),
        (6L, "finish", "j1", true, 4096L, 1000L),
        (7L, "get_file", "j1", true, 0L, 1100L),
        (8L, "get_file", "j9", true, 0L, 1200L),
        (9L, "cancel", "j1", true, 0L, 1300L),
        (10L, "initiate", "j2", true, 0L, 1400L),
        (11L, "cancel", "j0", true, 0L, 1500L),
        (12L, "cancel", "j2", true, 0L, 1600L),
        (13L, "get_file", "j2", true, 0L, 1700L),
        (14L, "initiate", "j3", true, 0L, 1800L),
        (15L, "finish", "j3", true, 8192L, 2000L),
        (16L, "expire_sweep", "", true, 0L, 3001L),
        (17L, "get_file", "j3", true, 0L, 3100L))
        .toDF("seq", "op", "job_id", "ok", "file_size", "ts_ms")
      graft.admin.DebugBundle.outcomes(log, ttlMs = 1000L).orderBy("seq")
    }),

    "adm_controller_limiter" -> ((s, dir) =>
      // Controller log rate limiter (cluster/controller_log_limiter.h):
      // commands map to the five operation groups, each group's token
      // bucket admits or REJECTS (never queues) at one token per
      // command, unmapped commands ride free. The oracle replays each
      // group's micro-token recurrence as a recursive CTE.
      graft.admin.ControllerLimiter.admit(
          T(s, dir, "events").where(col("event_id") < 4000).select(
            col("event_id").as("seq"),
            (lit(1700000000000L) + col("event_id")).as("ts_ms"),
            element_at(array(lit("create_topic"), lit("delete_topic"),
              lit("move_partition_replicas"), lit("create_acls"),
              lit("create_user"), lit("cluster_config_delta"),
              lit("decommission_node"), lit("metadata_snapshot")),
              (pmod(col("event_id"), lit(8)) + 1).cast("int")).as("cmd_type")),
          col("seq"), col("ts_ms"), col("cmd_type"),
          rates = Map("topic_operations" -> 8L, "move_operations" -> 4L,
            "acls_and_users_operations" -> 12L,
            "configuration_operations" -> 2L,
            "node_management_operations" -> 1L))
        .orderBy("seq")),

    "a5_usage_ring" -> ((s, dir) => {
      // Usage ring (usage_manager.h): 12 hourly timer fires with
      // planted jitter — +60s and -90s snap to the grid (within the
      // 2-minute threshold), +400s stays raw and flags unaligned —
      // ring-retained to the newest 8 windows; bytes roll up into the
      // window open at their timestamp, dropped windows lose theirs.
      val B = 1700000000L - (1700000000L % 3600L)
      val fires = s.range(12).select(
        (lit(B) + col("id") * 3600 +
          when(pmod(col("id"), lit(4)) === 0, 60)
            .when(pmod(col("id"), lit(4)) === 1, -90)
            .when(pmod(col("id"), lit(4)) === 2, 400)
            .otherwise(0)).as("fire_s"))
      val ev = T(s, dir, "events").select(
        (lit(B) + pmod(col("event_id") * 7919, lit(43200))).as("ts_s"),
        (lit(100L) + pmod(col("event_id"), lit(50))).as("sent"),
        (lit(200L) + pmod(col("event_id"), lit(70))).as("recv"))
      Operators.usageRing(fires, ev, col("ts_s"), col("sent"), col("recv"),
          intervalS = 3600L, numWindows = 8)
        .orderBy("begin_s")
    }),

    "ct_throttler" -> ((s, dir) =>
      // Cloud-topics write throttler (cloud_topics/throttler): ingress
      // token bucket with withheld-then-backfilled requests and
      // deadline culling — pass / throttled / expired across a bounded
      // request window. The oracle replays the per-shard recurrence as
      // a recursive CTE.
      graft.log.CloudTopics.throttleWrites(throttlerReqs(s, dir),
          col("shard"), col("seq"), col("ts_ms"), col("bytes"),
          ratePerMs = 300L, burst = 3000L, timeoutMs = 6L)
        .orderBy("seq")),

    "ct_throttler_stream" -> ((s, dir) => {
      // The throttler as a continuous query: the same request fixture
      // split into two ordered micro-batches; per-shard bucket state
      // persists in the checkpoint across batches, so the emitted
      // decisions are byte-identical to the batch fold — certified by
      // the SAME recursive-CTE oracle.
      import java.nio.file.Files
      import java.nio.file.attribute.FileTime
      val reqs = throttlerReqs(s, dir)
      val inDir = cleanupOnExit(Files.createTempDirectory("graft_thr_in"))
      Seq((col("seq") < 1500, "batch0", 1700000000000L),
          (col("seq") >= 1500, "batch1", 1700000001000L)).foreach {
        case (cond, name, mtime) =>
          val tmp = Files.createTempDirectory("graft_thr_half")
          reqs.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val dst = inDir.resolve(s"$name.parquet")
          Files.copy(firstParquetPart(tmp), dst)
          Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
          deleteDirTree(tmp) // the staging half is fully copied out
      }
      val out = cleanupOnExit(Files.createTempDirectory("graft_thr_out")).toString
      val stream = graft.streaming.Transforms.PathInput(
        inDir.toString, reqs.schema, maxFilesPerTrigger = Some(1)).stream(s)
      graft.log.CloudTopics.throttleWritesStream(stream, s"$out/data",
        s"$out/ckpt", ratePerMs = 300L, burst = 3000L, timeoutMs = 6L)
      s.read.parquet(s"$out/data").drop("batch").orderBy("seq")
    }),

    "ct_scrub_anomalies" -> ((s, dir) =>
      // Tiered-storage scrubber (cloud_storage/anomalies_detector.cc +
      // scrub_segment_meta, types.cc:150-216): the six-rule metadata
      // ladder over a deterministically corrupted manifest, plus
      // missing-segment / missing-spillover existence anti-joins
      // against the bucket listing. The oracle replays the same ladder
      // with SQL lag().
      graft.log.Scrubber.scrub(scrubManifestFx(s, dir).drop("c"),
          scrubObjectsFx(s, dir), scrubSpilloverFx(s))
        .orderBy("partition", "anomaly_type", "at_base_offset")),

    "ct_scrub_status" -> ((s, dir) =>
      // The depth-bounded scrub run summary (anomalies_detector::result
      // under quota_limit.max_num_segments): partitions with more than
      // 100 manifest entries report scrub_status::partial with the last
      // visited committed offset; anomaly counts cover only the visited
      // slice (spillover existence is partition-level, never bounded).
      graft.log.Scrubber.scrubStatus(scrubManifestFx(s, dir).drop("c"),
          scrubObjectsFx(s, dir), scrubSpilloverFx(s), maxSegments = 100)
        .orderBy("partition")),

    "s2_read_distribution" -> ((s, dir) => {
      // Read-distribution probe (read_distribution_probe.h): every log
      // offset fetched at a fixed "now" (2024-02-01Z) records its data
      // age in the 16-bucket log2 minutes histogram (first bound 4 min)
      // — the figure that sizes the hot tail vs the tiered cold store.
      val lg = eventLog(s, dir).select(col("partition"), col("offset"),
        unix_millis(col("ts")).as("ts_ms"))
      val fetches = lg.select(col("partition"), col("offset"),
        lit(1706745600000L).as("fetch_ts_ms"))
      RecordLog.readDistribution(fetches, lg).orderBy("bucket")
    }),

    "s4_topic_recovery" -> ((s, dir) => {
      // Topic recovery (cluster/partition_recovery_manager.cc): rebuild
      // each partition from its uploaded manifest under both retention
      // walks — the size-capped suffix (stop where the running total
      // would reach 30 KB) and the time-bounded suffix (stop at the
      // first segment older than Jan-20). start_delta propagates the
      // oldest staged delta actually set; manifest gaps landing inside
      // the staged range spoil clean_download. The oracle replays both
      // walks with descending-window SQL.
      val m = recManifestFx(s, dir)
      graft.log.TopicRecovery.recover(m, "size", maxSizeBytes = 30000L)
        .unionByName(graft.log.TopicRecovery.recover(m, "time",
          timeThreshold = lit("2024-01-20 00:00:00").cast("timestamp")))
        .orderBy("policy", "partition")
    }),

    "ct_purger_run" -> ((s, dir) => {
      // Topic purger run (cluster/archival/purger.cc): seven lifecycle
      // markers exercising every branch — remote_delete=false dropped,
      // grace-period skip, a read-replica paranoia no-op purge, a
      // missing manifest counted permanent without wedging the
      // tombstone, quota exhaustion mid-topic, and a marker the run
      // never reaches. The oracle replays the quota prefix cut with
      // SQL windows over the same VALUES fixture.
      import s.implicits._
      val markers = Seq(
        ("tp0", 1, 2, true, false, Some(0L)),
        ("tp1", 1, 2, false, false, Some(0L)),
        ("tp2", 1, 2, true, false, Some(600000L)),
        ("tp2r", 1, 3, true, true, Some(0L)),
        ("tp3", 1, 4, true, false, Some(0L)),
        ("tp4", 1, 8, true, false, Some(0L)),
        ("tp5", 1, 2, true, false, Some(0L)))
        .toDF("topic", "revision", "partition_count", "remote_delete",
          "read_replica", "marker_ts_ms")
      val manifests = markers
        .select(col("topic"),
          explode(sequence(lit(0), col("partition_count") - 1)).as("partition"))
        .select(col("topic"), col("partition"),
          explode(sequence(lit(0), lit(2))).as("m"))
        .select(col("topic"), col("partition"), col("m"),
          (lit(500) + col("m") * 2500).cast("long").as("n_segments"),
          when(col("topic") === "tp3" && col("partition") === 2 && col("m") === 1,
            "missing").otherwise("ok").as("state"))
      graft.log.Purger.run(markers, manifests, quota = 78L,
          nowMs = 1000000L, graceMs = 500000L)
        .orderBy("topic")
    }),

    "adm_enterprise_report" -> ((s, dir) => {
      // Enterprise feature report (features/enterprise_features.h):
      // the 11 license-required capabilities detected from cluster
      // config — with an expired license, every enabled one is a
      // violation. The oracle recomputes the detection ladder from the
      // same config fixture.
      import s.implicits._
      val cfg = Seq(
        ("audit_enabled", "true"),
        ("cloud_storage_enabled", "false"),
        ("partition_autobalancing_mode", "continuous"),
        ("core_balancing_continuous", "false"),
        ("sasl_mechanisms", "SCRAM,GSSAPI"),
        ("http_authentication", "BASIC"),
        ("schema_id_validation", "compat"),
        ("rbac_roles_defined", "0"),
        ("fips_mode", "disabled"),
        ("iceberg_enabled", "true"),
        ("default_leaders_preference", "racks:r1"))
        .toDF("key", "value")
      graft.cluster.EnterpriseFeatures.report(cfg, licenseValid = false)
        .orderBy("feature")
    }),

    "adm_feature_table" -> ((s, dir) => {
      // Feature-table activation (features/feature_table.h): nine specs
      // across the three availability policies and both prepare
      // policies, resolved against node version reports (min wins), the
      // original cluster version (new_clusters_only), admin
      // enable/disable verdicts (disabled_* remembers the return
      // state), and migration completion. The oracle recomputes the
      // whole ladder in SQL.
      import s.implicits._
      val specs = Seq(
        ("central_config", 1L, "always", "always"),
        ("cloud_retention", 3L, "always", "requires_migration"),
        ("node_isolation", 5L, "always", "always"),
        ("schema_id_validation", 7L, "explicit_only", "always"),
        ("remote_labels", 2L, "explicit_only", "always"),
        ("new_cluster_opt", 4L, "new_clusters_only", "always"),
        ("tiered_fast", 6L, "always", "requires_migration"),
        ("iceberg_mode", 6L, "always", "requires_migration"),
        ("future_feature", 12L, "always", "always"))
        .toDF("name", "require_version", "available_policy", "prepare_policy")
      val nodes = Seq((0, 8L), (1, 9L), (2, 8L), (3, 10L)).toDF("node_id", "version")
      val cmds = Seq(
        (1L, "enable", "schema_id_validation"),
        (2L, "complete_migration", "cloud_retention"),
        (3L, "disable", "node_isolation"),
        (4L, "disable", "central_config"),
        (5L, "enable", "central_config"),
        (6L, "disable", "iceberg_mode"))
        .toDF("seq", "op", "feature")
      graft.cluster.FeatureTable.states(specs, nodes, cmds, originalVersion = 3L)
        .orderBy("name")
    }),

    "t5_producer_eviction" -> ((s, dir) => {
      // Producer-state LRU eviction (producer_state_manager.cc /
      // namespaced_cache.h): a 17-command fixture drives insert-time
      // eviction skipping open transactions, cache_full refusal,
      // unknown_producer after eviction, reaper expiry honoring touch
      // recency and the in-tx pin, and eviction re-enabled by end_tx.
      // Golden-pinned (single-shard FSM, mig_outcomes style).
      import s.implicits._
      val log = Seq(
        (1L, "register", 1L, 0L), (2L, "register", 2L, 10L),
        (3L, "register", 3L, 20L), (4L, "begin_tx", 1L, 30L),
        (5L, "register", 4L, 40L), (6L, "data", 2L, 50L),
        (7L, "begin_tx", 2L, 60L), (8L, "begin_tx", 3L, 70L),
        (9L, "begin_tx", 4L, 80L), (10L, "register", 5L, 90L),
        (11L, "end_tx", 1L, 100L), (12L, "register", 5L, 110L),
        (13L, "reaper", 0L, 1200L), (14L, "end_tx", 3L, 1300L),
        (15L, "reaper", 0L, 1400L), (16L, "end_tx", 4L, 1500L),
        (17L, "reaper", 0L, 2600L))
        .toDF("seq", "op", "pid", "ts_ms")
      graft.cluster.ProducerEviction.outcomes(log, maxIds = 3, expirationMs = 1000L)
        .select(col("seq"), col("op"), col("pid"), col("outcome"),
          concat_ws(",", col("evicted_pids").cast("array<string>")).as("evicted"),
          col("n_active"))
        .orderBy("seq")
    }),

    "mig_outcomes" -> ((s, dir) =>
      // Data-migration command-log replay (data_migration_table.cc):
      // one outcome row per command — the errc of the first failing
      // validation rule and the migration state after. The 32-command
      // fixture exercises every errc path; the oracle pins the golden
      // outcome table (the FSM is single-raft-shard sequential, like
      // the api_versions registry pin).
      graft.cluster.DataMigrations.outcomes(migCommandLog(s), MigClusterTopics)
        .orderBy("seq")),

    "mig_table" -> ((s, dir) => {
      // The surviving migrations table: live (created, never removed)
      // migrations with last state and created/completed stamps.
      val cl = migCommandLog(s)
      graft.cluster.DataMigrations.migrationsTable(cl,
        graft.cluster.DataMigrations.outcomes(cl, MigClusterTopics))
        .orderBy("id")
    }),

    "mig_resources" -> ((s, dir) => {
      // migrated_resources: the restriction each live migration places
      // on its topics/groups (direction × state map,
      // data_migrated_resources.cc:49-88); finished/cancelled/removed
      // migrations free their resources and drop out.
      val cl = migCommandLog(s)
      graft.cluster.DataMigrations.resourceStates(cl,
        graft.cluster.DataMigrations.outcomes(cl, MigClusterTopics))
        .orderBy("kind", "name")
    }),

    "mig_write_gate" -> ((s, dir) => {
      // The data-plane half: every record of the event stream admitted
      // or rejected against the broadcast restriction map — writes stop
      // at read_only / fully_blocked. The oracle recomputes the per-
      // topic admission rollup from the same event stream.
      val cl = migCommandLog(s)
      val res = graft.cluster.DataMigrations.resourceStates(cl,
        graft.cluster.DataMigrations.outcomes(cl, MigClusterTopics))
      graft.cluster.DataMigrations.writeGate(
          T(s, dir, "events").select(col("event_id"), col("user_id")),
          element_at(typedLit(Seq("orders_t", "clicks_t", "inb_t", "legacy_t")),
            pmod(col("user_id"), lit(4)).cast("int") + 1),
          res)
        .groupBy("topic")
        .agg(count(lit(1)).as("n"),
          sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
          max(col("reject_reason")).as("reject_reason"))
        .orderBy("topic")
    }),

    "dlc_admission" -> ((s, dir) =>
      // Datalake coordinator exactly-once file-admission FSM
      // (datalake/coordinator/state_update.cc:47-98,147-189,211-266):
      // one outcome row per control-log command — errc of the first
      // failing validation rule plus the affected partition's state
      // after. The oracle replays the same ladder in pure DuckDB SQL
      // via a per-(topic,partition) recursive CTE carrying
      // (lifecycle, revision, last_committed, pending-entry ends).
      graft.streaming.DatalakeCoordinator.outcomes(dlcControlLog(s))
        .orderBy("seq")),

    "dlc_committed" -> ((s, dir) => {
      // Final coordinator state per partition: last_committed plus the
      // surviving pending entries — the exactly-once ledger feeding the
      // Iceberg committer (state.h:53-76). Derived declaratively over
      // the outcome log; a successful purge clears partition state.
      val outs = graft.streaming.DatalakeCoordinator.outcomes(dlcControlLog(s))
      graft.streaming.DatalakeCoordinator.finalState(outs)
        .orderBy("topic", "partition")
    }),

    "dlc_commit_decisions" -> ((s, dir) => {
      // Iceberg file-committer dedup pass
      // (iceberg_file_committer.cc:101-258): pending entries derived
      // from the SAME control-log replay, then judged against three
      // table states — no commit property yet (fresh table), a
      // mid-stream property (partial crash-retry: older entries
      // dedup-skip, newer append), and a property past every entry
      // (full retry after the Iceberg commit landed but the STM marks
      // didn't: everything dedups, updates still emitted).
      val cl = dlcControlLog(s)
      val pend = graft.streaming.DatalakeCoordinator.pendingEntries(cl,
        graft.streaming.DatalakeCoordinator.outcomes(cl))
      dlcCommitScenarios(s).map { case (nm, tc) =>
        graft.streaming.DatalakeCoordinator.commitDecisions(pend, tc)
          .withColumn("scenario", lit(nm))
      }.reduce(_ unionByName _)
        .select("scenario", "topic", "partition", "added_at", "entry_end", "action")
        .orderBy("scenario", "topic", "partition", "added_at")
    }),

    "dlc_commit_updates" -> ((s, dir) => {
      // The mark_files_committed updates + txn outcome per scenario:
      // every pending partition commits at its last pending end
      // regardless of dedup (:147,203-216); iceberg_txn false when all
      // files deduplicated (:218-226); new_property = max appended
      // added_pending_at (:176-178,230).
      val cl = dlcControlLog(s)
      val pend = graft.streaming.DatalakeCoordinator.pendingEntries(cl,
        graft.streaming.DatalakeCoordinator.outcomes(cl))
      dlcCommitScenarios(s).map { case (nm, tc) =>
        graft.streaming.DatalakeCoordinator.commitUpdates(
            graft.streaming.DatalakeCoordinator.commitDecisions(pend, tc))
          .withColumn("scenario", lit(nm))
      }.reduce(_ unionByName _)
        .select("scenario", "topic", "partition", "new_committed",
          "iceberg_txn", "new_property")
        .orderBy("scenario", "topic", "partition")
    }),

    "dlc_e2e" -> ((s, dir) => {
      // End-to-end exactly-once delivery: the Iceberg table read back
      // after produce → multiplex → coordinator admission → committer
      // passes INCLUDING a crash-retry replay (iceberg_file_committer
      // .cc:101-258). The oracle recomputes the produced slice directly
      // — any dedup failure in the retry doubles rows and breaks the
      // hash; any lost entry drops rows.
      val (t, _) = dlcE2eFixture(s, dir)
      graft.streaming.IcebergFormat.readTable(s, t)
        .select(col("partition"), col("offset"), col("event_id"), col("event_type"))
        .orderBy("partition", "offset")
    }),

    "dlc_e2e_passes" -> ((s, dir) => {
      // The committer-pass audit ledger: pass 1 commits all 4 pending
      // entries (snapshot 1, property = max added_pending_at = 5);
      // pass 2 is the crash-retry on identical pending state — no
      // transaction, version pinned; pass 3 dedups the old 4 and
      // appends the 4 newly-admitted (property advances to 9). These
      // seven columns are scale-invariant protocol constants.
      val (_, passes) = dlcE2eFixture(s, dir)
      s.read.parquet(passes).orderBy("pass")
    }),

    "a5_usage_windows" -> ((s, dir) =>
      Operators.usageWindows(events(s, dir), col("ts"), col("event_type"), length(col("props")))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("grp"), col("bytes"), col("records"))
        .orderBy("window_start", "grp")),

    "op_interval_join_stream" -> ((s, dir) => {
      // STREAM-STREAM interval join, end-to-end: purchases join signups
      // within [signup, signup + 3 days] per user, both sides
      // watermarked so buffered state is evicted as event time advances
      // (bounded by the interval, not stream history). Over the finite
      // input the emitted pair set equals the batch range join, which is
      // what the oracle computes.
      import java.nio.file.{Files, Paths}
      val inDir = Files.createTempDirectory("graft_ssj")
      // the driver's testdata ships single-file tables; synthesized
      // fixtures (ScaleFixture) are parquet DIRECTORIES — stage the
      // part files either way (one trigger: no maxFilesPerTrigger, so
      // the watermark never cuts late rows mid-stream)
      val srcPath = Paths.get(s"$dir/events.parquet")
      if (Files.isDirectory(srcPath)) {
        // close the listing stream (an unclosed Files.list leaks a
        // file handle per call — see firstParquetPart)
        val st = Files.list(srcPath)
        try st.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => Files.copy(p, inDir.resolve(p.getFileName)))
        finally st.close()
      } else Files.copy(srcPath, inDir.resolve("events.parquet"))
      val out = Files.createTempDirectory("graft_ssj_out").toString
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src(): DataFrame = withLtzTs(
        graft.streaming.Transforms.PathInput(inDir.toString, schema).stream(s))
      val purchases = src().where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "1 hour")
      val signups = src().where(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"), col("event_id").as("signup_id"))
        .withWatermark("s_ts", "1 hour")
      graft.streaming.StreamingOps.intervalJoinStream(
        purchases, signups,
        col("user_id") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 3 DAYS"),
        s"$out/data", s"$out/ckpt").awaitTermination()
      s.read.parquet(s"$out/data")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum("purchase_id").as("sum_purchase"),
          sum("signup_id").as("sum_signup"))
        .orderBy("user_id")
    }),

    "a5_session_windows" -> ((s, dir) =>
      // Gap-based sessionization (30-min silence closes a session): the
      // oracle re-derives the same islands with lag + running sum.
      Operators.sessionWindows(events(s, dir), col("ts"),
          concat(lit("u"), col("user_id").cast("string")), "30 minutes")
        .select(date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("grp"), col("n_events"))
        .orderBy("grp", "session_start")),

    "a5_usage_stream" -> ((s, dir) => {
      // A5's STREAMING twin, run end-to-end through the append-mode
      // watermark path: micro-batch 1 is the whole events table, micro-
      // batch 2 a single far-future sentinel row (mtime-ordered files +
      // maxFilesPerTrigger=1 pin the batch boundary). The sentinel
      // advances the watermark past every real window, and AvailableNow
      // finishes with a watermark-flush batch that emits them all — so
      // the emitted stream deterministically equals the complete hourly
      // aggregate, which is what the oracle asserts.
      val inDir = stagedEventsStream(s, dir, sentinel = true)
      val out = java.nio.file.Files.createTempDirectory("graft_a5s").toString
      val raw = graft.streaming.Transforms.PathInput(
        inDir, s.read.parquet(s"$dir/events.parquet").schema,
        maxFilesPerTrigger = Some(1)).stream(s)
      val prepared = withLtzTs(raw)
      graft.streaming.StreamingOps.usageWindowsStream(
        prepared, s"$out/data", s"$out/ckpt",
        "ts", col("event_type"), length(col("props"))).awaitTermination()
      s.read.parquet(s"$out/data")
        .where(col("grp") =!= "__sentinel")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("grp"), col("bytes"), col("records"))
        .orderBy("window_start", "grp")
    }),

    "dd_stream_dedup" -> ((s, dir) => {
      // Watermark-bounded streaming dedup, end-to-end: the events table
      // is fed TWICE as consecutive micro-batches; every batch-2 row is
      // a duplicate of a batch-1 key held in the (watermark-bounded)
      // state store, so the emitted stream equals the table itself —
      // which is exactly what the oracle asserts.
      val inDir = stagedEventsStream(s, dir, sentinel = false)
      val out = java.nio.file.Files.createTempDirectory("graft_dds").toString
      val raw = graft.streaming.Transforms.PathInput(
        inDir, s.read.parquet(s"$dir/events.parquet").schema,
        maxFilesPerTrigger = Some(1)).stream(s)
      val prepared = withLtzTs(raw)
      graft.streaming.StreamingOps.dedupStream(
        prepared, s"$out/data", s"$out/ckpt",
        "ts", Seq("event_id"), delay = "90 days").awaitTermination()
      s.read.parquet(s"$out/data")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
        .orderBy("event_type")
    }),

    // ----- §2.5 groups / idempotence -----
    "g1_group_membership" -> ((s, dir) => {
      // Command log: signup => join, error => leave, else heartbeat;
      // 3 groups of up to 50 members replay the membership FSM in
      // recovery mode (see GroupFsm scaladoc).
      val cmds = events(s, dir).select(
        concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
        col("event_id").as("seq"),
        concat(lit("m"), col("user_id").cast("string")).as("member"),
        when(col("event_type") === "signup", "join")
          .when(col("event_type") === "error", "leave")
          .otherwise("heartbeat").as("cmd"),
        array(lit("range"), lit("roundrobin")).as("protocols"))
      graft.groups.GroupEngine.describeGroups(cmds).orderBy("group")
    }),

    "g1_group_live" -> ((s, dir) => {
      // LIVE join→sync barrier protocol (group.h:499-553), driven from
      // events: each user joins at its first event (seq 3*fe) and
      // immediately syncs (3*fe+1) — completing the round and bumping the
      // generation; later events heartbeat (3*eid+2); a final sync from
      // the group leader (earliest joiner) lands the group Stable. Then a
      // session sweep expires members whose last sign of life is in the
      // first 99% of the seq domain — each expiry rebalancing the group
      // exactly as a leave would (so groups with expiries end
      // PreparingRebalance). Oracle derives the same final state in SQL.
      val ev = events(s, dir)
      val maxe = ev.agg(max("event_id")).collect()(0).getLong(0)
      val grp = concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group")
      val mem = concat(lit("m"), col("user_id").cast("string")).as("member")
      val protos = array(lit("range"), lit("roundrobin")).as("protocols")
      val firsts = ev.groupBy("user_id").agg(min("event_id").as("fe"))
      val joins = firsts.select(grp, (col("fe") * 3).as("seq"), mem,
        lit("join").as("cmd"), protos)
      val syncs = firsts.select(grp, (col("fe") * 3 + 1).as("seq"), mem,
        lit("sync").as("cmd"), protos)
      val beats = ev.join(firsts, "user_id").where(col("event_id") > col("fe"))
        .select(grp, (col("event_id") * 3 + 2).as("seq"), mem,
          lit("heartbeat").as("cmd"), protos)
      val leaderW = Window.partitionBy("group").orderBy("seq")
      val leaderSyncs = joins.withColumn("rn", row_number().over(leaderW))
        .where(col("rn") === 1).drop("rn")
        .withColumn("seq", lit(maxe * 3 + 3))
        .withColumn("cmd", lit("sync"))
      val cmds = joins.unionByName(syncs).unionByName(beats).unionByName(leaderSyncs)
      graft.groups.GroupEngine.describeGroups(cmds, recovery = false,
          expireDeadline = Some(maxe * 99 / 100 * 3 + 2))
        .orderBy("group")
    }),

    "g1_static_membership" -> ((s, dir) => {
      // Static membership (KIP-345, group.h:520-528): every member is
      // static (instance = i<user>), and every signup presents a FRESH
      // member id (m<user>-<eventid>) — a client restart. A known
      // instance's rejoin replaces its old member id with NO generation
      // bump and NO rebalance; an error is an instance-keyed leave. The
      // oracle derives generation from effective membership changes only
      // and the leader/member ids from each instance's LAST join.
      val ev = events(s, dir)
      val grp = concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group")
      val protos = array(lit("range"), lit("roundrobin")).as("protocols")
      val inst = concat(lit("i"), col("user_id").cast("string")).as("instance")
      val joins = ev.where(col("event_type") === "signup")
        .select(grp, col("event_id").as("seq"),
          concat(lit("m"), col("user_id").cast("string"), lit("-"),
            col("event_id").cast("string")).as("member"),
          lit("join").as("cmd"), protos, inst)
      val leaves = ev.where(col("event_type") === "error")
        .select(grp, col("event_id").as("seq"), lit("").as("member"),
          lit("leave").as("cmd"), protos, inst)
      graft.groups.GroupEngine.describeGroups(joins.unionByName(leaves))
        .orderBy("group")
    }),

    "adm_list_groups" -> ((s, dir) => {
      // list_groups with a KIP-518 states filter over the same command
      // log as g1_group_membership: the listing is the (group, state)
      // projection of the FSM's final state, narrowed to the requested
      // states — the oracle recomputes the full membership fold and
      // applies the identical filter.
      val cmds = events(s, dir).select(
        concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
        col("event_id").as("seq"),
        concat(lit("m"), col("user_id").cast("string")).as("member"),
        when(col("event_type") === "signup", "join")
          .when(col("event_type") === "error", "leave")
          .otherwise("heartbeat").as("cmd"),
        array(lit("range"), lit("roundrobin")).as("protocols"))
      graft.groups.GroupEngine.listGroups(cmds, Seq("Stable")).orderBy("group")
    }),

    "g2_group_offsets" -> ((s, dir) => {
      val commits = events(s, dir).where(col("event_type") === "purchase")
        .select(
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast("int").as("partition"),
          col("event_id").as("committed_offset"),
          col("event_id").as("commit_seq"))
      ConsumerGroups.fetchOffsets(commits)
        .select("group", "topic", "partition", "committed_offset")
        .orderBy("group", "partition")
    }),

    "g2_wire_offset_fetch" -> ((s, dir) => {
      // Wire-in/wire-out offset_fetch: a flexible v7 frame (api key 9,
      // flexible from v6, require_stable per KIP-447) asking for group
      // g0's committed offsets on all 8 partitions of `events`; the
      // store answers from the compacted offsets log, missing
      // partitions report committed_offset -1 with no error (the
      // handler's absent-partition contract). Rows are decoded back
      // from the response BYTES; sizes follow the v7 compact layout.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.OffsetFetch
      val commits = events(s, dir).where(col("event_type") === "purchase")
        .select(
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast("int").as("partition"),
          col("event_id").as("committed_offset"),
          col("event_id").as("commit_seq"))
      val committed = ConsumerGroups.fetchOffsets(commits)
        .where(col("group") === "g0")
        .select("partition", "committed_offset").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ #partitions rows
      val nParts = EventPartitions
      val reqFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(9, 7, 11, Some("graft")),
        OffsetFetch.encodeRequest(OffsetFetch.Request("g0",
          Seq(("events", 0 until nParts)), requireStable = true)),
        flexible = true)
      val (hdr, reqBody) = WireHeaders.decodeRequestFrame(reqFrame, flexible = true)
      val req = OffsetFetch.decodeRequest(reqBody)
      val resp = OffsetFetch.Response(0, req.topics.map { case (name, ps) =>
        OffsetFetch.RespTopic(name, ps.map(p =>
          OffsetFetch.RespPart(p, committed.getOrElse(p, -1L), -1, None, 0)))
      }, errorCode = 0)
      val respFrame = WireHeaders.encodeResponseFrame(hdr.correlationId,
        OffsetFetch.encodeResponse(resp), flexibleHeader = true)
      val (corrBack, respBody) = WireHeaders.decodeResponseFrame(respFrame,
        flexibleHeader = true)
      OffsetFetch.decodeResponse(respBody).topics.flatMap(t =>
        t.partitions.map(p => (req.groupId, t.name, p.partitionIndex,
          p.committedOffset, p.committedLeaderEpoch, p.errorCode.toInt,
          reqFrame.length, respFrame.length, corrBack == 11)))
        .toDF("group", "topic", "partition", "committed_offset",
          "leader_epoch", "error_code", "req_bytes", "resp_bytes", "corr_ok")
        .orderBy("partition")
    }),

    "g1_wire_lifecycle" -> ((s, dir) => {
      // Heartbeat/LeaveGroup v4 frames against the live group FSM —
      // the reference's heartbeat ladder checks member existence first
      // (unknown_member_id 25), then the generation (illegal_generation
      // 22); LeaveGroup v4 batches member identities with PER-MEMBER
      // error codes (KIP-345). Sizes follow the flexible layout laws.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{Heartbeat => HB, LeaveGroup => LG}
      import graft.groups.GroupFsm
      var g = GroupFsm.replay(Seq(
        GroupFsm.Join(1, "m0", Seq("range")),
        GroupFsm.Join(2, "m1", Seq("range")),
        GroupFsm.Join(3, "m2", Seq("range")),
        GroupFsm.Sync(4, "m0")))
      def hbStep(step: Int, member: String, gen: Long) = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(12, 4, step, Some("graft")),
          HB.encodeRequest(HB.Request("g-wire", gen.toInt, member, None)),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = HB.decodeRequest(body)
        val err: Short =
          if (!g.members.contains(req.memberId)) 25
          else if (req.generationId != g.generation) 22
          else {
            g = GroupFsm.step(g, GroupFsm.Heartbeat(10 + step, req.memberId))
            0
          }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          HB.encodeResponse(HB.Response(0, err)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        (step, "heartbeat", member, gen, HB.decodeResponse(rb).errorCode.toInt,
          reqF.length, respF.length, corr == step)
      }
      def leaveStep(step: Int, member: String) = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(13, 4, step, Some("graft")),
          LG.encodeRequest(LG.Request("g-wire", Seq((member, None)))),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = LG.decodeRequest(body)
        val resp = LG.Response(0, 0, req.members.map { case (m, inst) =>
          val err: Short =
            if (g.members.contains(m)) {
              g = GroupFsm.step(g, GroupFsm.Leave(10 + step, m)); 0
            } else 25
          LG.MemberResp(m, inst, err)
        })
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          LG.encodeResponse(resp), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        (step, "leave", member, -1L,
          LG.decodeResponse(rb).members.head.errorCode.toInt,
          reqF.length, respF.length, corr == step)
      }
      val gen1 = g.generation
      Seq(
        hbStep(1, "m0", gen1),
        hbStep(2, "m9", gen1),     // never joined
        hbStep(3, "m1", gen1 + 1), // stale/future generation
        leaveStep(4, "m1"),
        leaveStep(5, "m9"),
        hbStep(6, "m1", gen1))     // left above: unknown again
        .toDF("step", "api", "member", "generation_sent", "error_code",
          "req_bytes", "resp_bytes", "corr_ok")
        .orderBy("step")
    }),

    "g4_wire_rebalance" -> ((s, dir) => {
      // A FULL rebalance round over the wire: six members send
      // JoinGroup v6 frames whose protocol metadata is a real consumer
      // subscription blob (legacy-encoded embedded protocol inside the
      // flexible message); the coordinator elects the first sorted
      // member leader at generation 1, echoes all subscriptions to the
      // leader; the leader runs the RANGE assignor (the engine's
      // distributed g4 plan) over the decoded subscriptions and sends
      // one SyncGroup v4 frame carrying per-member assignment blobs;
      // every member's SyncGroup response hands back its slice. The
      // emitted rows decode each member's OWN response bytes.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{JoinGroup, SyncGroup, ConsumerProtocol}
      val members = (0 until 6).map(i => s"m$i")
      // --- join round
      val joins = members.zipWithIndex.map { case (m, corr) =>
        val frame = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(11, 6, corr, Some(m)),
          JoinGroup.encodeRequest(JoinGroup.Request("g-wire", 30000, 60000,
            m, None, "consumer", Seq(JoinGroup.Protocol("range",
              ConsumerProtocol.encodeSubscription(Seq("events")))))),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(frame, flexible = true)
        (h, JoinGroup.decodeRequest(body))
      }
      val leader = joins.map(_._2.memberId).sorted.head
      val roster = joins.map { case (_, req) =>
        JoinGroup.Member(req.memberId, None, req.protocols.head.metadata) }
      val joinResponses = joins.map { case (h, req) =>
        val resp = JoinGroup.Response(0, 0, 1, "range", leader, req.memberId,
          if (req.memberId == leader) roster else Nil)
        val frame = WireHeaders.encodeResponseFrame(h.correlationId,
          JoinGroup.encodeResponse(resp), flexibleHeader = true)
        val (_, body) = WireHeaders.decodeResponseFrame(frame, flexibleHeader = true)
        JoinGroup.decodeResponse(body)
      }
      // --- leader computes the range plan from the DECODED roster
      val ldr = joinResponses.find(_.memberId == leader).get
      val subs = ldr.members.map(m =>
        m.memberId -> ConsumerProtocol.decodeSubscription(m.metadata))
      val topics = subs.flatMap(_._2).distinct.map(t => (t, EventPartitions))
        .toDF("topic", "n_partitions")
      val plan = graft.groups.Assignment.rangeAssign(
          subs.map(_._1).toDF("member_id"), topics)
        .collect().map(r => (r.getString(2), r.getString(0),
          r.getAs[Number](1).intValue()))
        .groupBy(_._1).map { case (m, rows) =>
          m -> rows.groupBy(_._2).map { case (t, ps) =>
            (t, ps.map(_._3).sorted.toSeq) }.toSeq }
      // --- sync round: leader distributes, each member decodes its own
      val syncFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(14, 4, 99, Some(leader)),
        SyncGroup.encodeRequest(SyncGroup.Request("g-wire", 1, leader, None,
          members.map(m => m -> ConsumerProtocol.encodeAssignment(
            plan.getOrElse(m, Seq.empty))))),
        flexible = true)
      val (_, syncBody) = WireHeaders.decodeRequestFrame(syncFrame, flexible = true)
      val syncReq = SyncGroup.decodeRequest(syncBody)
      val byMember = syncReq.assignments.toMap
      joinResponses.flatMap { jr =>
        val respFrame = WireHeaders.encodeResponseFrame(0,
          SyncGroup.encodeResponse(SyncGroup.Response(0, 0,
            byMember(jr.memberId))), flexibleHeader = true)
        val (_, body) = WireHeaders.decodeResponseFrame(respFrame,
          flexibleHeader = true)
        val sr = SyncGroup.decodeResponse(body)
        ConsumerProtocol.decodeAssignment(sr.assignment).flatMap {
          case (topic, parts) => parts.map(p =>
            (jr.memberId, jr.generationId, jr.protocolName,
              jr.leader == jr.memberId, topic, p,
              jr.errorCode.toInt + sr.errorCode.toInt))
        }
      }.toDF("member", "generation", "protocol", "is_leader", "topic",
        "partition", "error_code")
        .orderBy("partition")
    }),

    "g2_wire_offset_commit" -> ((s, dir) => {
      // The commit side over the wire: group g0's latest purchase
      // offsets ride a flexible v8 OffsetCommit frame (api key 8;
      // nullable static-member group_instance_id, no retention field
      // past v4); the store accepts every partition (error 0). The
      // emitted committed_offset comes from the DECODED REQUEST and the
      // error from the decoded response, so both directions of the
      // serde are under the oracle along with the v8 size laws.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.OffsetCommit
      val commits = events(s, dir).where(col("event_type") === "purchase")
        .select(
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast("int").as("partition"),
          col("event_id").as("committed_offset"),
          col("event_id").as("commit_seq"))
      val latest = ConsumerGroups.fetchOffsets(commits)
        .where(col("group") === "g0")
        .select("partition", "committed_offset").collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1) // ≤ #partitions
      val reqFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(8, 8, 21, Some("graft")),
        OffsetCommit.encodeRequest(OffsetCommit.Request("g0", 1, "m1", None,
          Seq(("events", latest.toIndexedSeq.map { case (p, off) =>
            OffsetCommit.ReqPart(p, off, -1, None) })))),
        flexible = true)
      val (hdr, reqBody) = WireHeaders.decodeRequestFrame(reqFrame, flexible = true)
      val req = OffsetCommit.decodeRequest(reqBody)
      val resp = OffsetCommit.Response(0, req.topics.map { case (name, ps) =>
        (name, ps.map(p => (p.partitionIndex, 0.toShort)))
      })
      val respFrame = WireHeaders.encodeResponseFrame(hdr.correlationId,
        OffsetCommit.encodeResponse(resp), flexibleHeader = true)
      val (corrBack, respBody) = WireHeaders.decodeResponseFrame(respFrame,
        flexibleHeader = true)
      val errs = OffsetCommit.decodeResponse(respBody).topics.flatMap(_._2).toMap
      req.topics.flatMap { case (name, ps) => ps.map(p =>
        (req.groupId, name, p.partitionIndex, p.committedOffset,
          errs(p.partitionIndex).toInt, reqFrame.length, respFrame.length,
          corrBack == 21)) }
        .toDF("group", "topic", "partition", "committed_offset",
          "error_code", "req_bytes", "resp_bytes", "corr_ok")
        .orderBy("partition")
    }),

    "g2_offset_delete" -> ((s, dir) => {
      // Tombstone semantics on the compacted offsets store: a delete
      // after the last commit removes the key (g0 partitions 0-3); a
      // delete BEFORE later commits is superseded and the key survives
      // (g1 partition 1, seq -1).
      import s.implicits._
      val commits = events(s, dir).where(col("event_type") === "purchase")
        .select(
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast("int").as("partition"),
          col("event_id").as("committed_offset"),
          col("event_id").as("commit_seq"))
      val deletes = ((0 to 3).map(p => ("g0", "events", p, 1000000000L)) :+
        (("g1", "events", 1, -1L)))
        .toDF("group", "topic", "partition", "commit_seq")
      ConsumerGroups.deleteOffsets(commits, deletes)
        .select("group", "topic", "partition", "committed_offset")
        .orderBy("group", "partition")
    }),

    "g2_wire_group_admin" -> ((s, dir) => {
      // The group admin plane over the wire: ListGroups v4 (states
      // filter; an unparseable state fails the request 42,
      // server.cc:612-640), DescribeGroups v5 (stable group with
      // protocol + real embedded subscription metadata, unknown group
      // answers the DEAD shell with error 0, describe_groups.h:64-72),
      // DeleteGroups v2 (group::remove ladder — 68 non-empty, 0 +
      // offset tombstones for empty, 69 unknown), OffsetDelete v0
      // (per-partition 86 for live subscriptions,
      // group_manager.cc:1523-1573). Group states fold through the
      // live-mode FSM; offsets live in the compacted store and the
      // final read shows exactly what survived.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{ListGroups => LG, DescribeGroups => DG,
        DeleteGroups => DelG, OffsetDelete => OD, ConsumerProtocol}
      val cmdLog = Seq(
        ("g-stable", 1L, "m1", "join", Seq("range", "roundrobin")),
        ("g-stable", 2L, "m2", "join", Seq("range")),
        ("g-stable", 3L, "m1", "sync", Seq.empty[String]),
        ("g-stable", 4L, "m2", "sync", Seq.empty[String]),
        ("g-empty", 5L, "m3", "join", Seq("range")),
        ("g-empty", 6L, "m3", "leave", Seq.empty[String]),
        ("g-prep", 7L, "m4", "join", Seq("range")),
        ("g-prep", 8L, "m5", "join", Seq("range")))
        .toDF("group", "seq", "member", "cmd", "protocols")
      val summaries = graft.groups.GroupEngine
        .describeGroups(cmdLog, recovery = false)
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5))).toMap // 3 groups
      val subscriptions = Map("g-stable" -> Seq("events")) // member metadata
      var store = Seq(
        ("g-stable", "events", 0, 100L, 1L),
        ("g-stable", "other", 0, 5L, 2L),
        ("g-empty", "events", 1, 20L, 3L))
        .toDF("group", "topic", "partition", "committed_offset", "commit_seq")
      var nextSeq = 10L
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Option[String], Option[String], Option[String], Option[String],
        Option[String], Int, Long, Int, Int, Boolean)]

      // ---- steps 1-2: ListGroups v4
      def list(step: Int, states: Seq[String]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(16, 4, step, Some("graft")),
          LG.encodeRequest(LG.Request(states)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = LG.decodeRequest(body)
        val valid = Set("Empty", "PreparingRebalance", "CompletingRebalance",
          "Stable", "Dead")
        // group_state_from_kafka_name (group.cc:2833): any unparseable
        // state fails the whole request; otherwise filter the summaries
        // (the engine's listGroups projection, already folded above)
        val answer =
          if (!req.statesFilter.forall(valid)) LG.Response(0, 42, Nil)
          else LG.Response(0, 0, summaries.toSeq
            .filter(g => req.statesFilter.isEmpty ||
              req.statesFilter.contains(g._2._1))
            .sortBy(_._1)
            .map { case (g, (state, _, _, _, _)) =>
              LG.Group(g, "consumer", state) })
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          LG.encodeResponse(answer), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        val got = LG.decodeResponse(rb)
        if (got.errorCode != 0)
          rows += ((step, "list", None, None, None, None, None, -1, -1L, -1,
            got.errorCode.toInt, corr == step))
        else got.groups.foreach(g =>
          rows += ((step, "list", Some(g.groupId), Some(g.groupState),
            Some(g.protocolType), None, None, -1, -1L, -1, 0, corr == step)))
      }
      list(1, Seq("Stable", "Empty"))
      list(2, Seq("Flying"))

      // ---- step 3: DescribeGroups v5
      {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(15, 5, 3, Some("graft")),
          DG.encodeRequest(DG.Request(Seq("g-stable", "g-empty", "g-ghost"),
            includeAuthorizedOperations = false)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = DG.decodeRequest(body)
        val groups = req.groups.map { g =>
          summaries.get(g) match {
            case None => DG.Group(0, g, "Dead", "", "", Nil, -2147483648)
            case Some((state, _, n, leader, protocol)) =>
              val members =
                if (state == "Stable")
                  (1 to n.toInt).map(i => DG.Member(s"m$i", None,
                    s"m$i-client", "/10.0.0.1",
                    ConsumerProtocol.encodeSubscription(
                      subscriptions.getOrElse(g, Nil)),
                    Array.emptyByteArray))
                else Nil
              DG.Group(0, g, state, "consumer",
                if (state == "Stable") protocol else "", members, -2147483648)
          }
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          DG.encodeResponse(DG.Response(0, groups)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        DG.decodeResponse(rb).groups.foreach { g =>
          rows += ((3, "describe", Some(g.groupId), Some(g.groupState),
            Some(if (summaries.contains(g.groupId)) "consumer" else ""),
            Some(g.protocolData), None, -1, -1L, g.members.size,
            g.errorCode.toInt, corr == 3))
        }
      }

      // ---- step 4: DeleteGroups v2
      {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(42, 2, 4, Some("graft")),
          DelG.encodeRequest(DelG.Request(
            Seq("g-stable", "g-empty", "g-ghost"))), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = DelG.decodeRequest(body)
        val results = req.groups.map { g =>
          summaries.get(g) match {
            case None => (g, 69.toShort)
            case Some((state, _, _, _, _)) if state != "Empty" => (g, 68.toShort)
            case Some(_) =>
              // empty group: tombstone every stored offset (group.cc:2597)
              val deletes = store.where(col("group") === g)
                .select(col("group"), col("topic"), col("partition"))
                .withColumn("commit_seq", lit(nextSeq))
              nextSeq += 1
              store = graft.groups.ConsumerGroups.deleteOffsets(store, deletes)
                .select("group", "topic", "partition", "committed_offset",
                  "commit_seq")
              (g, 0.toShort)
          }
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          DelG.encodeResponse(DelG.Response(0, results)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        DelG.decodeResponse(rb).results.foreach { case (g, err) =>
          rows += ((4, "delete", Some(g), None, None, None, None, -1, -1L, -1,
            err.toInt, corr == 4))
        }
      }

      // ---- steps 5-6: OffsetDelete v0 (legacy encoding)
      def offsetDelete(step: Int, group: String,
          topics: Seq[(String, Seq[Int])]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(47, 0, step, Some("graft")),
          OD.encodeRequest(OD.Request(group, topics)), flexible = false)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = false)
        val req = OD.decodeRequest(body)
        val resp = summaries.get(req.groupId) match {
          case None => OD.Response(69, 0, Nil)
          case Some(_) =>
            val subscribed = subscriptions.getOrElse(req.groupId, Nil).toSet
            val answered = req.topics.map { case (t, ps) =>
              val err: Short = if (subscribed(t)) 86 else 0
              if (err == 0) {
                val deletes = ps.toDF("partition")
                  .withColumn("group", lit(req.groupId))
                  .withColumn("topic", lit(t))
                  .withColumn("commit_seq", lit(nextSeq))
                nextSeq += 1
                store = graft.groups.ConsumerGroups.deleteOffsets(store, deletes)
                  .select("group", "topic", "partition", "committed_offset",
                    "commit_seq")
              }
              (t, ps.map(_ -> err))
            }
            OD.Response(0, 0, answered)
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          OD.encodeResponse(resp), flexibleHeader = false)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF,
          flexibleHeader = false)
        val got = OD.decodeResponse(rb)
        if (got.topics.isEmpty)
          rows += ((step, "offset_delete", Some(group), None, None, None,
            None, -1, -1L, -1, got.errorCode.toInt, corr == step))
        else got.topics.foreach { case (t, ps) =>
          ps.foreach { case (p, err) =>
            rows += ((step, "offset_delete", Some(group), None, None, None,
              Some(t), p, -1L, -1, err.toInt, corr == step))
          }
        }
      }
      offsetDelete(5, "g-stable", Seq("events" -> Seq(0), "other" -> Seq(0)))
      offsetDelete(6, "g-nope", Seq("events" -> Seq(0)))

      // ---- step 7: what the compacted store still serves
      graft.groups.ConsumerGroups.fetchOffsets(store)
        .select("group", "topic", "partition", "committed_offset")
        .collect().foreach { r =>
          rows += ((7, "offsets_after", Some(r.getString(0)), None, None,
            None, Some(r.getString(1)), r.getInt(2), r.getLong(3), -1, 0,
            true))
        }

      rows.toSeq.toDF("step", "api", "group", "state", "protocol_type",
        "protocol", "topic", "partition", "offset", "n_members",
        "error_code", "corr_ok")
        .orderBy("step", "group", "topic", "partition")
    }),

    "g2_offset_expiry" -> ((s, dir) => {
      // KIP-211 offset retention across the three policies at once:
      // g0 is a Stable consumer subscribed only to 'events' (its 'aux'
      // offsets age out on commit_ts; 'events' never expires), g1 is
      // Empty since Jan 10 (everything ages out on the state timestamp),
      // g2 is a standalone offset-storage client (pure commit_ts aging).
      // Partition 7 offsets are non_reclaimable and always retained.
      // now = 2024-02-01, retention = 36 h — the cutoff lands inside the
      // span of per-key last-commit timestamps, so commit_ts-based
      // policies split each group into expired AND retained keys.
      import s.implicits._
      val commits = events(s, dir).where(col("event_type") === "purchase")
        .select(
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          when(pmod(col("user_id"), lit(2)) === 0, "events").otherwise("aux").as("topic"),
          pmod(col("user_id"), lit(8)).cast("int").as("partition"),
          col("event_id").as("committed_offset"),
          col("event_id").as("commit_seq"),
          unix_millis(col("ts")).as("commit_ts"))
      val offsets = ConsumerGroups.fetchOffsets(commits)
        .withColumn("non_reclaimable", col("partition") === 7)
        .drop("commit_seq")
      val meta = Seq(
        ("g0", Some("consumer"), "Stable", None: Option[Long]),
        ("g1", Some("consumer"), "Empty", Some(1704844800000L)),
        ("g2", None: Option[String], "Standalone", None: Option[Long]))
        .toDF("group", "protocol_type", "state", "state_ts")
      val subs = Seq(("g0", "events")).toDF("group", "topic")
      ConsumerGroups.expireOffsets(offsets, meta, subs,
          nowMs = 1706745600000L, retentionMs = 129600000L)
        .orderBy("group", "topic", "partition")
    }),

    "g5_sequence_check" -> ((s, dir) => {
      // Hand-computed admission scenario replayed through the stateful
      // fold (producer_state.h:126 semantics); oracle pins every status.
      import s.implicits._
      val log = Seq(
        // pid 1, epoch 0: dense, one duplicate, one gap, then the gap fills
        (1L, 0, 0L, 1L), (1L, 0, 1L, 2L), (1L, 0, 1L, 3L),
        (1L, 0, 2L, 4L), (1L, 0, 4L, 5L), (1L, 0, 3L, 6L),
        // pid 2: first write must be seq 0
        (2L, 0, 5L, 1L), (2L, 0, 0L, 2L), (2L, 0, 1L, 3L),
        // pid 3: epoch bump resets expectation; stale epoch is fenced
        (3L, 0, 0L, 1L), (3L, 1, 0L, 2L), (3L, 0, 1L, 3L), (3L, 1, 1L, 4L))
        .toDF("pid", "epoch", "seq", "arrival")
      ConsumerGroups.validateSequences(log).orderBy("pid", "arrival")
    }),

    "g5_idempotent_producer" -> ((s, dir) =>
      ConsumerGroups.dedupProducer(
          events(s, dir).withColumn("seq", get_json_object(col("props"), "$.k").cast("int")),
          "user_id", "seq", "event_id")
        .select(col("user_id"), col("seq"), col("event_id").as("first_arrival"),
          col("event_type"), col("attempts"))
        .orderBy("user_id", "seq")),

    // ----- §2.6 transactions (engine-produced state) -----
    "t1_init_producer_id" -> ((s, dir) =>
      TxnEngine.initProducerIds(events(s, dir).select("user_id").distinct(), col("user_id"))
        .select("user_id", "pid")
        .orderBy("user_id")),

    "t1_wire_txn" -> ((s, dir) => {
      // The txn coordinator's wire entry/exit: InitProducerId v3 frames
      // get engine-assigned dense pids (the t1 fold); re-initializing a
      // known tid bumps the producer epoch, so a later EndTxn v3 at the
      // stale epoch fences with invalid_producer_epoch (47) and an
      // unknown tid answers invalid_producer_id_mapping (49). All rows
      // decode from the response BYTES.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{InitProducerId => IPI, EndTxn}
      val pids = TxnEngine.initProducerIds(
          Seq("tx-0", "tx-1", "tx-2").toDF("tid"), col("tid"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // 3 rows
      val epochs = scala.collection.mutable.Map.empty[String, Int]
      var nextPid = pids.size.toLong
      def init(step: Int, tid: Option[String]) = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(22, 3, step, Some("graft")),
          IPI.encodeRequest(IPI.Request(tid, 60000, -1L, -1)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = IPI.decodeRequest(body)
        val (pid, epoch) = req.transactionalId match {
          case Some(t) =>
            val e = epochs.getOrElse(t, -1) + 1
            epochs(t) = e
            (pids(t), e)
          case None => // idempotent-only producer: fresh pid, epoch 0
            val p = nextPid; nextPid += 1; (p, 0)
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          IPI.encodeResponse(IPI.Response(0, 0, pid, epoch.toShort)),
          flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        val resp = IPI.decodeResponse(rb)
        (step, "init", req.transactionalId.getOrElse("<none>"),
          resp.producerId, resp.producerEpoch.toInt, resp.errorCode.toInt,
          corr == step)
      }
      def end(step: Int, tid: String, pid: Long, epoch: Int, commit: Boolean) = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(26, 3, step, Some("graft")),
          EndTxn.encodeRequest(EndTxn.Request(tid, pid, epoch.toShort, commit)),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = EndTxn.decodeRequest(body)
        val err: Short =
          if (!epochs.contains(req.transactionalId)) 49
          else if (req.producerEpoch != epochs(req.transactionalId)) 47
          else 0
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          EndTxn.encodeResponse(EndTxn.Response(0, err)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        (step, if (commit) "end_commit" else "end_abort", tid, pid, epoch,
          EndTxn.decodeResponse(rb).errorCode.toInt, corr == step)
      }
      Seq(
        init(1, Some("tx-0")), init(2, Some("tx-1")), init(3, Some("tx-2")),
        init(4, Some("tx-1")),  // bump: epoch 1
        init(5, None),          // idempotent-only
        end(6, "tx-0", pids("tx-0"), 0, commit = true),
        end(7, "tx-1", pids("tx-1"), 0, commit = false), // fenced
        end(8, "tx-1", pids("tx-1"), 1, commit = true),
        end(9, "tx-9", 7L, 0, commit = true))            // unknown tid
        .toDF("step", "api", "tid", "pid", "epoch", "error_code", "corr_ok")
        .orderBy("step")
    }),

    "t2_commit_abort" -> ((s, dir) =>
      txnLog(s, dir).where(col("is_control"))
        .select("partition", "offset", "pid", "txn_seq", "decision")
        .orderBy("partition", "offset")),

    "p1_batch_type_filter" -> ((s, dir) =>
      RecordLog.typeFilter(txnLog(s, dir), Seq(BatchType.RaftData))
        .groupBy("partition")
        .agg(count(lit(1)).as("n_raft_data"),
          sum(col("is_control").cast("int")).as("n_control"),
          max("offset").as("max_offset"))
        .orderBy("partition")),

    "p4_read_committed" -> ((s, dir) =>
      TxnEngine.readCommitted(txnLog(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(d(col("value"))).cast("double").as("total"))
        .orderBy("event_type")),

    "t4_last_stable_offset" -> ((s, dir) =>
      TxnEngine.lastStableOffsets(txnLog(s, dir)).orderBy("partition")),

    // Coordinator expiry sweep (tx_gateway_frontend.h:263 expire_old_txs /
    // tm_stm.h:317 expire_tx): hung txns get coordinator abort markers,
    // late commits from their fenced producers are rejected, fresh late
    // commits apply. One row per txn with its post-sweep state.
    "t2_tx_expiry" -> ((s, dir) => {
      val fix = txnExpiryFixture(s, dir)
      val expired = s.read.parquet(s"$fix/expired").withColumn("expired", lit(true))
      val fenced = s.read.parquet(s"$fix/rejected").withColumn("fenced", lit(true))
      TxnEngine.listTransactions(s.read.parquet(s"$fix/log"))
        .join(expired, Seq("pid", "txn_seq"), "left")
        .join(fenced, Seq("pid", "txn_seq"), "left")
        .select(col("pid"), col("txn_seq"), col("state"),
          coalesce(col("expired"), lit(false)).as("expired"),
          coalesce(col("fenced"), lit(false)).as("fenced"),
          col("n_partitions"), col("n_records"), col("min_first_offset"))
        .orderBy("pid", "txn_seq")
    }),

    // LSO recomputed over the post-sweep log: partitions whose only open
    // txns expired advance to the HWM — the observable point of the sweep.
    "t4_lso_after_expiry" -> ((s, dir) =>
      TxnEngine.lastStableOffsets(s.read.parquet(s"${txnExpiryFixture(s, dir)}/log"))
        .orderBy("partition")),

    "a3_txn_compaction" -> ((s, dir) =>
      TxnEngine.compactCommitted(txnLog(s, dir), Seq("partition", "user_id"))
        .select(col("partition"), col("user_id").as("key"), col("offset"), col("event_type"))
        .orderBy("partition", "key")),

    "g3_group_tx" -> ((s, dir) => {
      val log = txnLog(s, dir)
      val commits = log.where(!col("is_control") && col("event_type") === "purchase")
        .select(col("pid"), col("txn_seq"),
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          lit("events").as("topic"), col("partition"),
          col("event_id").as("committed_offset"), col("event_id").as("commit_seq"))
      TxnEngine.commitTxOffsets(commits, log)
        .select("group", "topic", "partition", "committed_offset")
        .orderBy("group", "partition")
    }),

    "g3_wire_txn_offsets" -> ((s, dir) => {
      // The transactional-offsets conversation over the wire (KIP-447
      // flow): AddPartitionsToTxn v3 declares the txn's partitions,
      // AddOffsetsToTxn v1 ties in the group, TxnOffsetCommit v3 lands
      // offsets PENDING, EndTxn v3 seals or discards them — and the
      // final OffsetFetch v7 response bytes serve what the engine's
      // commitTxOffsets fold (group::commit_tx) actually made visible:
      // tx-a's 100/200 commit, tx-b's 555 vanishes with its abort.
      // Fencing ladder per leg: stale epoch 47 invalid_producer_epoch,
      // unknown tid 49 invalid_producer_id_mapping, wrong generation 22
      // illegal_generation (group::handle_txn_offset_commit). Every
      // frame size is a closed-form law (tid 4 chars, group "g-wire",
      // member "m-1", topic "events").
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{AddPartitionsToTxn => APT, AddOffsetsToTxn => AOT,
        TxnOffsetCommit => TOC, EndTxn, OffsetFetch}
      val Group = "g-wire"; val Topic = "events"; val Gen = 7; val Member = "m-1"
      val txns = Map("tx-a" -> (10L, 2), "tx-b" -> (11L, 0)) // tid -> (pid, epoch)
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Int, Long, Int, Int, Int, Int, Boolean)]
      val commitLog = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String, String, Int, Long, Long)]
      val controlLog = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Boolean, String)]
      def fence(tid: String, pid: Long, epoch: Int): Short =
        txns.get(tid) match {
          case None => 49
          case Some((p, e)) => if (p != pid || e != epoch) 47 else 0
        }
      def addParts(step: Int, tid: String, epoch: Int, parts: Seq[Int]): Unit = {
        val pid = txns.get(tid).map(_._1).getOrElse(-1L)
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(24, 3, step, Some("graft")),
          APT.encodeRequest(APT.Request(tid, pid, epoch.toShort,
            Seq(Topic -> parts))), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = APT.decodeRequest(body)
        val err = fence(req.transactionalId, req.producerId, req.producerEpoch)
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          APT.encodeResponse(APT.Response(0, req.topics.map { case (t, ps) =>
            t -> ps.map(_ -> err) })), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        APT.decodeResponse(rb).results.foreach { case (_, ps) =>
          ps.foreach { case (p, e) =>
            rows += ((step, "add_partitions", tid, p, -1L, e.toInt, parts.size,
              reqF.length, respF.length, corr == step))
          }
        }
      }
      def addOffsets(step: Int, tid: String, epoch: Int): Unit = {
        val pid = txns.get(tid).map(_._1).getOrElse(-1L)
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(25, 1, step, Some("graft")),
          AOT.encodeRequest(AOT.Request(tid, pid, epoch.toShort, Group)),
          flexible = false)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = false)
        val req = AOT.decodeRequest(body)
        val err = fence(req.transactionalId, req.producerId, req.producerEpoch)
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          AOT.encodeResponse(AOT.Response(0, err)), flexibleHeader = false)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = false)
        rows += ((step, "add_offsets", tid, -1, -1L,
          AOT.decodeResponse(rb).errorCode.toInt, -1, reqF.length, respF.length,
          corr == step))
      }
      def tocommit(step: Int, tid: String, epoch: Int, gen: Int,
          offs: Seq[(Int, Long)]): Unit = {
        val pid = txns.get(tid).map(_._1).getOrElse(-1L)
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(28, 3, step, Some("graft")),
          TOC.encodeRequest(TOC.Request(tid, Group, pid, epoch.toShort, gen,
            Member, None, Seq(Topic -> offs.map { case (p, o) =>
              TOC.ReqPartition(p, o, -1, None) }))), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = TOC.decodeRequest(body)
        val fenceErr = fence(req.transactionalId, req.producerId, req.producerEpoch)
        val err: Short = if (fenceErr != 0) fenceErr
          else if (req.generationId != Gen || req.memberId != Member) 22
          else 0
        if (err == 0) req.topics.foreach { case (t, ps) =>
          ps.foreach(p => commitLog += ((req.producerId, 0L, req.groupId, t,
            p.partition, p.offset, step.toLong)))
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          TOC.encodeResponse(TOC.Response(0, req.topics.map { case (t, ps) =>
            t -> ps.map(_.partition -> err) })), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        TOC.decodeResponse(rb).topics.foreach { case (_, ps) =>
          ps.foreach { case (p, e) =>
            rows += ((step, "txn_offset_commit", tid, p,
              offs.toMap.getOrElse(p, -1L), e.toInt, offs.size,
              reqF.length, respF.length, corr == step))
          }
        }
      }
      def endTxn(step: Int, tid: String, commit: Boolean): Unit = {
        val (pid, epoch) = txns(tid)
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(26, 3, step, Some("graft")),
          EndTxn.encodeRequest(EndTxn.Request(tid, pid, epoch.toShort, commit)),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = EndTxn.decodeRequest(body)
        controlLog += ((req.producerId, 0L, true,
          if (req.committed) "commit" else "abort"))
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          EndTxn.encodeResponse(EndTxn.Response(0, 0)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        rows += ((step, if (commit) "end_commit" else "end_abort", tid, -1, -1L,
          EndTxn.decodeResponse(rb).errorCode.toInt, -1, reqF.length,
          respF.length, corr == step))
      }
      addParts(1, "tx-a", 2, Seq(0, 1))
      addParts(2, "tx-z", 0, Seq(0, 1))          // unknown tid -> 49
      addParts(3, "tx-b", 5, Seq(0, 1))          // stale epoch -> 47
      addOffsets(4, "tx-a", 2)
      addOffsets(5, "tx-z", 0)                   // unknown tid -> 49
      tocommit(6, "tx-a", 2, Gen, Seq(0 -> 100L, 1 -> 200L))
      tocommit(7, "tx-b", 0, Gen, Seq(0 -> 555L))
      tocommit(8, "tx-a", 1, Gen, Seq(0 -> 150L)) // stale epoch -> 47
      tocommit(9, "tx-b", 0, 3, Seq(1 -> 650L))   // wrong generation -> 22
      endTxn(10, "tx-a", commit = true)
      endTxn(11, "tx-b", commit = false)
      // the engine seals pending offsets with the commit markers
      val visible = TxnEngine.commitTxOffsets(
          commitLog.toSeq.toDF("pid", "txn_seq", "group", "topic",
            "partition", "committed_offset", "commit_seq"),
          controlLog.toSeq.toDF("pid", "txn_seq", "is_control", "decision"))
        .select("partition", "committed_offset")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // <= 2 rows
      val ofReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(9, 7, 12, Some("graft")),
        OffsetFetch.encodeRequest(OffsetFetch.Request(Group,
          Seq(Topic -> Seq(0, 1)), requireStable = true)), flexible = true)
      val (ofH, ofBody) = WireHeaders.decodeRequestFrame(ofReqF, flexible = true)
      val ofReq = OffsetFetch.decodeRequest(ofBody)
      val ofRespF = WireHeaders.encodeResponseFrame(ofH.correlationId,
        OffsetFetch.encodeResponse(OffsetFetch.Response(0,
          ofReq.topics.map { case (t, ps) => OffsetFetch.RespTopic(t,
            ps.map(p => OffsetFetch.RespPart(p, visible.getOrElse(p, -1L),
              -1, None, 0))) }, 0)), flexibleHeader = true)
      val (ofCorr, ofRb) = WireHeaders.decodeResponseFrame(ofRespF, flexibleHeader = true)
      OffsetFetch.decodeResponse(ofRb).topics.foreach { t =>
        t.partitions.foreach { p =>
          rows += ((12, "offset_fetch", Group, p.partitionIndex,
            p.committedOffset, p.errorCode.toInt, t.partitions.size,
            ofReqF.length, ofRespF.length, ofCorr == 12))
        }
      }
      rows.toSeq.toDF("step", "api", "scope", "partition", "offset",
        "error_code", "leg_parts", "req_bytes", "resp_bytes", "corr_ok")
        .orderBy("step", "partition")
    }),

    // ----- §2.5 G4 assignment strategies -----
    "g4_assign_range" -> ((s, dir) => {
      // range plan (assignment_plans.cc:60-86): contiguous runs, first
      // P%M members take one extra; a 1-partition topic lands entirely
      // on the first member.
      import s.implicits._
      graft.groups.Assignment.rangeAssign(
          Seq("a", "b", "c").toDF("member_id"), G4Topics(s))
        .orderBy("topic", "partition")
    }),

    "g4_assign_roundrobin" -> ((s, dir) => {
      import s.implicits._
      graft.groups.Assignment.roundRobinAssign(
          Seq("a", "b", "c").toDF("member_id"), G4Topics(s))
        .orderBy("topic", "partition")
    }),

    "g4_assign_sticky" -> ((s, dir) => {
      // member d departed, c joined: d's partitions redistribute to the
      // least-loaded members up to target=ceil(16/3); a/b keep every
      // partition they owned.
      import s.implicits._
      val prior = Seq(
        ("t8", 0L, "a"), ("t8", 1L, "a"), ("t8", 2L, "a"),
        ("t8", 3L, "b"), ("t8", 4L, "b"), ("t8", 5L, "b"),
        ("t8", 6L, "d"), ("t8", 7L, "d"),
        ("t7", 0L, "a"), ("t7", 1L, "a"), ("t7", 2L, "b"), ("t7", 3L, "b"),
        ("t7", 4L, "d"), ("t7", 5L, "d"), ("t7", 6L, "d"),
        ("t1", 0L, "d")).toDF("topic", "partition", "member_id")
      graft.groups.Assignment.stickyAssign(prior,
          Seq("a", "b", "c").toDF("member_id"), G4Topics(s))
        .orderBy("topic", "partition")
    }),
  )

  def oracleSql: Map[String, String] = Map(

    // Txn wire round: dense pids by sorted tid (the t1 fold), epoch
    // bump on re-init, fence (47) at stale epoch, unknown tid (49).
    "t1_wire_txn" ->
      """SELECT * FROM (VALUES
        |  (1, 'init', 'tx-0', CAST(0 AS BIGINT), 0, 0, TRUE),
        |  (2, 'init', 'tx-1', 1, 0, 0, TRUE),
        |  (3, 'init', 'tx-2', 2, 0, 0, TRUE),
        |  (4, 'init', 'tx-1', 1, 1, 0, TRUE),
        |  (5, 'init', '<none>', 3, 0, 0, TRUE),
        |  (6, 'end_commit', 'tx-0', 0, 0, 0, TRUE),
        |  (7, 'end_abort', 'tx-1', 1, 0, 47, TRUE),
        |  (8, 'end_commit', 'tx-1', 1, 1, 0, TRUE),
        |  (9, 'end_commit', 'tx-9', 7, 0, 49, TRUE))
        | t(step, api, tid, pid, epoch, error_code, corr_ok) ORDER BY step""".stripMargin,

    "a1_compaction" ->
      s"""$LogCte SELECT partition, user_id AS key, "offset", event_type FROM log
         | QUALIFY row_number() OVER (PARTITION BY partition, user_id ORDER BY "offset" DESC) = 1
         | ORDER BY partition, key""".stripMargin,

    "a1_sliding_window" ->
      s"""$LogCte,
         | t AS (SELECT partition AS p, "offset" AS o, event_id % 200 AS k,
         |              "offset" // 50 AS seg FROM log),
         | ls AS (SELECT p, k, max(seg) AS lseg, max(o) AS maxo FROM t GROUP BY 1, 2),
         | occ AS (
         |  SELECT p, lseg, count(*) AS nn,
         |    sum(count(*)) OVER (PARTITION BY p ORDER BY lseg DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suffix
         |  FROM ls GROUP BY 1, 2),
         | bad AS (SELECT p, max(lseg) AS maxbad FROM occ WHERE suffix > 120 GROUP BY 1),
         | base AS (SELECT p, min(seg) AS b FROM t GROUP BY 1),
         | bounds AS (
         |  SELECT base.p, base.b, COALESCE(bad.maxbad + 1, base.b) AS strt
         |  FROM base LEFT JOIN bad ON base.p = bad.p),
         | nk AS (SELECT ls.p, CAST(count(*) AS BIGINT) AS n_keys_indexed
         |        FROM ls JOIN bounds ON ls.p = bounds.p
         |        WHERE ls.lseg >= bounds.strt GROUP BY 1),
         | rnk AS (
         |  SELECT t.p, t.o, ls.lseg, ls.maxo, bounds.strt,
         |    row_number() OVER (PARTITION BY t.p, t.seg, t.k ORDER BY t.o DESC) AS segrn
         |  FROM t JOIN bounds ON t.p = bounds.p JOIN ls ON ls.p = t.p AND ls.k = t.k),
         | kept AS (SELECT p, o FROM rnk
         |   WHERE CASE WHEN lseg >= strt THEN o = maxo ELSE segrn = 1 END),
         | dg AS (SELECT p, CAST(count(*) AS BIGINT) AS n_after,
         |               CAST(sum(o) AS BIGINT) AS sum_offsets FROM kept GROUP BY 1)
         |SELECT bounds.p AS partition, bounds.strt AS idx_start_seg,
         |  COALESCE(nk.n_keys_indexed, 0) AS n_keys_indexed,
         |  bounds.strt <= bounds.b AS window_complete,
         |  dg.n_after, dg.sum_offsets
         |FROM bounds LEFT JOIN nk ON nk.p = bounds.p JOIN dg ON dg.p = bounds.p
         |ORDER BY 1""".stripMargin,

    "a1_compact_delete" ->
      s"""$LogCte SELECT partition, user_id AS key, "offset", event_type FROM log
         | WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
         | QUALIFY row_number() OVER (PARTITION BY partition, user_id ORDER BY "offset" DESC) = 1
         | ORDER BY partition, key""".stripMargin,

    "a2_tombstone_gc" ->
      s"""$LogCte, latest AS (
         |  SELECT partition, user_id, "offset", event_type, ts FROM log
         |  QUALIFY row_number() OVER (PARTITION BY partition, user_id ORDER BY "offset" DESC) = 1)
         | SELECT partition, user_id AS key, "offset", event_type FROM latest
         | WHERE NOT (event_type = 'error' AND ts < TIMESTAMP '2024-01-25 00:00:00')
         | ORDER BY partition, key""".stripMargin,

    "a4_retention" ->
      s"""$LogCte SELECT partition, min("offset") AS new_start, count(*) AS remaining
         | FROM log WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' GROUP BY partition ORDER BY partition""".stripMargin,

    // suffix byte budget from the log tail, newest-first cumulative sum
    "a4_retention_bytes" ->
      s"""$LogCte, sized AS (
         |  SELECT partition, "offset", length(props) + length(event_type) + 24 AS sz FROM log),
         | c AS (
         |  SELECT *, sum(sz) OVER (PARTITION BY partition ORDER BY "offset" DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM sized)
         | SELECT partition, count(*) AS remaining, min("offset") AS new_start,
         |        CAST(sum(sz) AS BIGINT) AS bytes
         | FROM c WHERE cum <= 16384 GROUP BY 1 ORDER BY 1""".stripMargin,

    "a5_usage_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type AS grp, CAST(sum(length(props)) AS BIGINT) AS bytes, count(*) AS records
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "op_interval_join_stream" ->
      """WITH p AS (SELECT user_id, epoch(ts) AS t, event_id AS purchase_id
        |           FROM events WHERE event_type = 'purchase'),
        | i AS (SELECT user_id, epoch(ts) AS lo, epoch(ts) + 259200 AS hi,
        |              event_id AS signup_id
        |       FROM events WHERE event_type = 'signup')
        | SELECT p.user_id, count(*) AS n_pairs,
        |        CAST(sum(purchase_id) AS BIGINT) AS sum_purchase,
        |        CAST(sum(signup_id) AS BIGINT) AS sum_signup
        | FROM p JOIN i ON p.user_id = i.user_id AND p.t BETWEEN i.lo AND i.hi
        | GROUP BY 1 ORDER BY 1""".stripMargin,

    "a5_session_windows" ->
      """WITH marks AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        | sess AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM marks)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       'u' || CAST(user_id AS VARCHAR) AS grp, count(*) AS n_events
        | FROM sess GROUP BY user_id, sid ORDER BY 2, 1""".stripMargin,

    // Append-mode emission: the far-future sentinel batch advances the
    // watermark past every real window, and AvailableNow's final
    // watermark-flush batch then emits them all — so the emitted stream
    // equals the complete hourly aggregate (sentinel filtered out).
    "a5_usage_stream" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type AS grp, CAST(sum(length(props)) AS BIGINT) AS bytes, count(*) AS records
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dd_stream_dedup" ->
      """SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "a6_quota_throttle" ->
      """WITH RECURSIVE base AS (
        |  SELECT 'c' || CAST(user_id % 40 AS VARCHAR) AS client_id,
        |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |         CAST(length(props) AS BIGINT) AS bytes,
        |         CAST(event_id AS BIGINT) AS seq
        |  FROM events WHERE user_id % 40 < 4),
        | r AS (SELECT *, row_number() OVER (PARTITION BY client_id ORDER BY ts_ms, seq) AS rn
        |       FROM base),
        | tb AS (
        |  SELECT client_id, rn, ts_ms, seq, 1000 - bytes AS tokens FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r2.client_id, r2.rn, r2.ts_ms, r2.seq,
        |         least(1000, t.tokens + 2 * (r2.ts_ms - t.ts_ms)) - r2.bytes
        |  FROM tb t JOIN r r2 ON r2.client_id = t.client_id AND r2.rn = t.rn + 1)
        | SELECT client_id, seq, tokens,
        |        CASE WHEN tokens < 0 THEN (-tokens + 1) // 2 ELSE CAST(0 AS BIGINT) END AS throttle_ms
        | FROM tb ORDER BY client_id, seq""".stripMargin,

    "snc_node_throttle" ->
      s"""$SncQuotaCte
         |SELECT g.node_id, g.seq, g.client_id,
         |  CASE WHEN g.grp IS NOT NULL THEN g.grp END AS "group",
         |  g.grp IS NOT NULL AS exempt,
         |  COALESCE(s.throttle_ms, CAST(0 AS BIGINT)) AS throttle_ms,
         |  s.t_in AS tokens_in, s.t_eg AS tokens_eg
         |FROM g LEFT JOIN (SELECT node_id, seq, t_in, t_eg, throttle_ms
         |                  FROM sim WHERE rn > 0) s
         |  ON g.node_id = s.node_id AND g.seq = s.seq
         |ORDER BY g.seq""".stripMargin,

    "snc_quota_probe" ->
      s"""$SncQuotaCte
         |SELECT g.node_id,
         |  CAST(sum(CASE WHEN g.grp IS NULL THEN g.req_bytes ELSE 0 END) AS BIGINT) AS traffic_intake,
         |  CAST(sum(CASE WHEN g.grp IS NULL THEN g.resp_bytes ELSE 0 END) AS BIGINT) AS traffic_egress,
         |  CAST(sum(CASE WHEN COALESCE(s.throttle_ms, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
         |  CAST(count(*) AS BIGINT) AS n_requests,
         |  CAST(12000 AS BIGINT) AS quota_effective_in,
         |  CAST(30000 AS BIGINT) AS quota_effective_eg
         |FROM g LEFT JOIN (SELECT node_id, seq, throttle_ms FROM sim WHERE rn > 0) s
         |  ON g.node_id = s.node_id AND g.seq = s.seq
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ct_cache_trim" ->
      s"""${LogCte.replace("WITH log", "WITH RECURSIVE log")},$CacheTrimCte
         |SELECT * FROM trim_actions ORDER BY node_id, path""".stripMargin,

    "asm_runs" ->
      s"""${LogCte.replace("WITH log", "WITH RECURSIVE log")},$AsmCte
         |SELECT partition, base_offset, committed_offset, num_segments, size_bytes, term
         |FROM runs ORDER BY partition""".stripMargin,

    "asm_manifest" ->
      s"""${LogCte.replace("WITH log", "WITH RECURSIVE log")},$AsmCte
         |SELECT s.partition, s.base_offset, s.committed_offset, s.size_bytes, s.term, FALSE AS merged
         |FROM seg s LEFT JOIN runs r ON s.partition = r.partition
         |  AND s.base_offset >= r.base_offset AND s.base_offset <= r.committed_offset
         |WHERE r.partition IS NULL
         |UNION ALL
         |SELECT partition, base_offset, committed_offset, size_bytes, term, TRUE FROM runs
         |ORDER BY partition, base_offset""".stripMargin,

    "ct_scrub_anomalies" ->
      s"""$LogCte,${scrubCte(1000000000)}
         |SELECT partition, anomaly_type, at_base_offset, prev_base_offset
         |FROM sanoms ORDER BY partition, anomaly_type, at_base_offset""".stripMargin,

    "ct_purger_run" -> PurgerOracle,

    "res_disk_eviction" ->
      s"""$LogCte,
         | segs AS (
         |  SELECT partition AS p, "offset" // 50 AS seg,
         |         CAST(sum(length(props) + length(event_type) + 24) AS BIGINT) AS size
         |  FROM log GROUP BY 1, 2),
         | mx AS (SELECT p, max(seg) AS ms FROM segs GROUP BY 1),
         | lv AS (
         |  SELECT s.p, s.seg, s.size,
         |    CASE WHEN s.seg * 2 <= m.ms THEN 'local_retention'
         |         WHEN s.seg * 4 <= m.ms * 3 THEN
         |           CASE WHEN s.p % 2 = 0 THEN 'low_space_non_hinted'
         |                ELSE 'low_space_hinted' END
         |         ELSE 'active_segment' END AS level
         |  FROM segs s JOIN mx m ON s.p = m.p),
         | tot AS (SELECT CAST(sum(size) AS BIGINT) AS usage_b FROM lv),
         | tgt AS (
         |  SELECT usage_b,
         |    CAST(floor((usage_b - CAST(floor(usage_b * (12.5 / 100.0)) AS BIGINT))
         |      * (80 / 100.0)) AS BIGINT) AS target
         |  FROM tot),
         | exc AS (SELECT usage_b, target,
         |    CASE WHEN usage_b - target <= 1000 THEN 0
         |         ELSE CAST(floor((usage_b - target) * 2.0) AS BIGINT) END AS excess
         |  FROM tgt),
         | rk AS (
         |  SELECT lv.*,
         |    CASE level WHEN 'local_retention' THEN 0 WHEN 'low_space_non_hinted' THEN 1
         |         WHEN 'low_space_hinted' THEN 2 ELSE 3 END AS lrank,
         |    row_number() OVER (PARTITION BY p, level ORDER BY seg) AS idx
         |  FROM lv),
         | sched AS (
         |  SELECT rk.*, e.excess, e.target,
         |    COALESCE(sum(size) OVER (ORDER BY lrank, idx, p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr
         |  FROM rk, exc e)
         |SELECT level, CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN excess > 0 AND bfr <= excess THEN 1 ELSE 0 END) AS BIGINT) AS n_marked,
         |  CAST(sum(CASE WHEN excess > 0 AND bfr <= excess THEN size ELSE 0 END) AS BIGINT) AS bytes_marked,
         |  max(target) AS target_size, max(excess) AS target_excess
         |FROM sched GROUP BY level ORDER BY level""".stripMargin,

    "adm_self_test_report" ->
      """WITH smp AS (
        |  SELECT CAST(user_id % 5 AS INTEGER) AS node,
        |    CASE WHEN event_id % 2 = 0 THEN 'disk' ELSE 'net' END AS test_type,
        |    event_id AS seq,
        |    CAST(100 + (event_id * 7919) % 5000 AS BIGINT) AS lat_us,
        |    CAST(512 + event_id % 1024 AS BIGINT) AS bytes,
        |    event_id % 53 <> 0 AS ok
        |  FROM events),
        | rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY node, test_type
        |      ORDER BY lat_us, seq) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY node, test_type) AS n
        |  FROM smp),
        | agg AS (
        |  SELECT node, test_type, CAST(count(*) AS BIGINT) AS n_requests,
        |    CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS timeouts,
        |    max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN lat_us END) AS p50_us,
        |    max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN lat_us END) AS p90_us,
        |    max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN lat_us END) AS p99_us,
        |    max(CASE WHEN rn = CAST(ceil(0.999 * n) AS BIGINT) THEN lat_us END) AS p999_us,
        |    max(lat_us) AS max_us,
        |    CAST(sum(bytes) AS BIGINT) AS bytes_total,
        |    max(seq) - min(seq) + 1 AS duration_ms
        |  FROM rk GROUP BY 1, 2)
        |SELECT node, test_type, n_requests, timeouts, p50_us, p90_us, p99_us,
        |  p999_us, max_us, bytes_total, duration_ms,
        |  n_requests * 1000000 // duration_ms AS rps_x1000,
        |  bytes_total * 1000000 // duration_ms AS bps_x1000
        |FROM agg ORDER BY node, test_type""".stripMargin,

    "adm_self_test_status" ->
      """SELECT * FROM (VALUES
        |  (0, 'idle', 'idle'), (1, 'running', 'net'), (2, 'running', 'cloud'),
        |  (3, 'idle', 'idle'), (4, 'unreachable', 'idle'))
        | t(node, status, stage) ORDER BY node""".stripMargin,

    "adm_debug_bundle" ->
      """SELECT CAST(seq AS BIGINT) AS seq, op, job_id, errc, status_after, current_job
        | FROM (VALUES
        |  (1, 'get_file', 'j0', 'debug_bundle_process_never_started', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (2, 'cancel', 'j0', 'debug_bundle_process_never_started', NULL, NULL),
        |  (3, 'initiate', 'j1', 'success', 'running', 'j1'),
        |  (4, 'initiate', 'j2', 'debug_bundle_process_running', 'running', 'j1'),
        |  (5, 'get_file', 'j1', 'debug_bundle_process_running', 'running', 'j1'),
        |  (6, 'finish', 'j1', 'success', 'success', 'j1'),
        |  (7, 'get_file', 'j1', 'success', 'success', 'j1'),
        |  (8, 'get_file', 'j9', 'job_id_not_recognized', 'success', 'j1'),
        |  (9, 'cancel', 'j1', 'debug_bundle_process_not_running', 'success', 'j1'),
        |  (10, 'initiate', 'j2', 'success', 'running', 'j2'),
        |  (11, 'cancel', 'j0', 'job_id_not_recognized', 'running', 'j2'),
        |  (12, 'cancel', 'j2', 'success', 'error', 'j2'),
        |  (13, 'get_file', 'j2', 'process_failed', 'error', 'j2'),
        |  (14, 'initiate', 'j3', 'success', 'running', 'j3'),
        |  (15, 'finish', 'j3', 'success', 'success', 'j3'),
        |  (16, 'expire_sweep', '', 'success', 'expired', 'j3'),
        |  (17, 'get_file', 'j3', 'debug_bundle_expired', 'expired', 'j3'))
        | t(seq, op, job_id, errc, status_after, current_job)
        | ORDER BY seq""".stripMargin,

    "adm_controller_limiter" ->
      """WITH RECURSIVE cmds AS (
        |  SELECT event_id AS seq, CAST(1700000000000 + event_id AS BIGINT) AS ts_ms,
        |    CASE CAST(event_id % 8 AS INTEGER)
        |      WHEN 0 THEN 'create_topic' WHEN 1 THEN 'delete_topic'
        |      WHEN 2 THEN 'move_partition_replicas' WHEN 3 THEN 'create_acls'
        |      WHEN 4 THEN 'create_user' WHEN 5 THEN 'cluster_config_delta'
        |      WHEN 6 THEN 'decommission_node' ELSE 'metadata_snapshot' END AS cmd_type
        |  FROM events WHERE event_id < 4000),
        | gm AS (SELECT seq, ts_ms,
        |    CASE WHEN cmd_type IN ('create_topic','delete_topic','update_topic_properties',
        |           'create_partition','set_topic_partitions_disabled') THEN 'topic_operations'
        |         WHEN cmd_type IN ('move_partition_replicas','cancel_moving_partition_replicas',
        |           'update_partition_replicas') THEN 'move_operations'
        |         WHEN cmd_type IN ('create_user','delete_user','update_user','create_acls',
        |           'delete_acls','create_role','delete_role','update_role')
        |           THEN 'acls_and_users_operations'
        |         WHEN cmd_type IN ('cluster_config_delta','feature_update_license_update')
        |           THEN 'configuration_operations'
        |         WHEN cmd_type IN ('maintenance_mode','recommission_node','decommission_node')
        |           THEN 'node_management_operations'
        |         ELSE 'unlimited' END AS grp
        |  FROM cmds),
        | gr AS (SELECT *,
        |    CAST(CASE grp WHEN 'topic_operations' THEN 8 WHEN 'move_operations' THEN 4
        |      WHEN 'acls_and_users_operations' THEN 12 WHEN 'configuration_operations' THEN 2
        |      WHEN 'node_management_operations' THEN 1 ELSE 0 END AS BIGINT) AS rate,
        |    row_number() OVER (PARTITION BY grp ORDER BY ts_ms, seq) AS rn
        |  FROM gm),
        | sim AS (
        |  SELECT grp, rate, rn, seq, ts_ms,
        |    (rate = 0 OR rate * 1000000 >= 1000000) AS accepted,
        |    CASE WHEN rate = 0 THEN 0
        |         ELSE rate * 1000000 - 1000000 END AS tk,
        |    ts_ms AS ck
        |  FROM gr WHERE rn = 1
        |  UNION ALL
        |  SELECT r.grp, r.rate, r.rn, r.seq, r.ts_ms,
        |    (r.rate = 0 OR least(r.rate * 1000000,
        |       s.tk + r.rate * 1000 * greatest(0, r.ts_ms - s.ck)) >= 1000000) AS accepted,
        |    CASE WHEN r.rate = 0 THEN 0
        |         WHEN least(r.rate * 1000000,
        |            s.tk + r.rate * 1000 * greatest(0, r.ts_ms - s.ck)) >= 1000000
        |           THEN least(r.rate * 1000000,
        |            s.tk + r.rate * 1000 * greatest(0, r.ts_ms - s.ck)) - 1000000
        |         ELSE least(r.rate * 1000000,
        |            s.tk + r.rate * 1000 * greatest(0, r.ts_ms - s.ck)) END AS tk,
        |    greatest(s.ck, r.ts_ms) AS ck
        |  FROM sim s JOIN gr r ON r.grp = s.grp AND r.rn = s.rn + 1)
        |SELECT grp AS "group", seq, ts_ms, accepted, CAST(tk AS BIGINT) AS tokens_u
        |FROM sim ORDER BY seq""".stripMargin,

    "a5_usage_ring" ->
      """WITH fires AS (
        |  SELECT (1700000000 - (1700000000 % 3600)) + k * 3600 +
        |    (CASE k % 4 WHEN 0 THEN 60 WHEN 1 THEN -90 WHEN 2 THEN 400 ELSE 0 END)
        |    AS fire_s
        |  FROM (SELECT unnest(range(12)) AS k)),
        | sn AS (SELECT DISTINCT
        |    CASE WHEN fire_s % 3600 <= 120 THEN fire_s - fire_s % 3600
        |         WHEN 3600 - fire_s % 3600 <= 120 THEN fire_s - fire_s % 3600 + 3600
        |         ELSE fire_s END AS begin_s
        |  FROM fires),
        | ring AS (
        |  SELECT begin_s, begin_s % 3600 = 0 AS aligned,
        |    lead(begin_s, 1, 9223372036854775807) OVER (ORDER BY begin_s) AS end_s,
        |    row_number() OVER (ORDER BY begin_s DESC) AS w
        |  FROM sn),
        | kept AS (SELECT * FROM ring WHERE w <= 8),
        | ev AS (SELECT (1700000000 - (1700000000 % 3600)) + (event_id * 7919) % 43200 AS ts_s,
        |    100 + event_id % 50 AS sent, 200 + event_id % 70 AS recv FROM events),
        | agg AS (SELECT k.begin_s, CAST(sum(e.sent) AS BIGINT) AS bs,
        |    CAST(sum(e.recv) AS BIGINT) AS br
        |  FROM kept k JOIN ev e ON e.ts_s >= k.begin_s AND e.ts_s < k.end_s
        |  GROUP BY 1)
        |SELECT CAST(k.w AS INTEGER) AS w, CAST(k.begin_s AS BIGINT) AS begin_s,
        |  k.aligned,
        |  CAST(COALESCE(a.bs, 0) AS BIGINT) AS bytes_sent,
        |  CAST(COALESCE(a.br, 0) AS BIGINT) AS bytes_received,
        |  k.w = 1 AS open
        |FROM kept k LEFT JOIN agg a USING (begin_s)
        |ORDER BY k.begin_s""".stripMargin,

    "ct_throttler" -> ThrottlerOracle,

    "ct_throttler_stream" -> ThrottlerOracle,

    "s2_read_distribution" ->
      s"""$LogCte,
         | lts AS (SELECT partition, "offset", epoch_ms(ts) AS ts_ms FROM log),
         | fch AS (SELECT partition, "offset", CAST(1706745600000 AS BIGINT) AS fts FROM lts),
         | jn AS (SELECT greatest(0, f.fts - l.ts_ms) // 60000 AS age_min
         |        FROM fch f JOIN lts l USING (partition, "offset")),
         | bk AS (SELECT CASE WHEN age_min < 4 THEN 0
         |          ELSE least(15, CAST(length(bin(age_min)) - 2 AS INTEGER)) END AS bucket
         |        FROM jn)
         |SELECT bucket,
         |  CASE WHEN bucket < 15 THEN CAST(1 AS BIGINT) << (bucket + 2) END AS upper_min,
         |  CAST(count(*) AS BIGINT) AS n_reads
         |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin,

    "s4_topic_recovery" ->
      s"""$LogCte,
         | rsized AS (SELECT partition, "offset", ts,
         |    CAST(length(props) + length(event_type) + 24 AS BIGINT) AS sz FROM log),
         | rseg AS (
         |  SELECT partition, "offset" // 50 AS c, min("offset") AS base_offset,
         |         max("offset") AS committed_offset, CAST(sum(sz) AS BIGINT) AS size_bytes,
         |         max(ts) AS max_ts
         |  FROM rsized WHERE ("offset" // 50) % 23 <> 11 GROUP BY 1, 2),
         | rman AS (SELECT *, CASE WHEN c < 2 THEN NULL
         |    ELSE CAST(c * 3 AS BIGINT) END AS delta_offset FROM rseg),
         | ssz AS (
         |  SELECT *, SUM(size_bytes) OVER (PARTITION BY partition ORDER BY base_offset DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) < 30000 AS staged
         |  FROM rman),
         | stm AS (
         |  SELECT *, MAX(CASE WHEN max_ts IS NULL OR max_ts < TIMESTAMP '2024-01-20 00:00:00'
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY partition ORDER BY base_offset DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0 AS staged
         |  FROM rman),
         | gsz AS (SELECT *, lag(committed_offset) OVER
         |    (PARTITION BY partition ORDER BY base_offset) AS pc FROM ssz WHERE staged),
         | gtm AS (SELECT *, lag(committed_offset) OVER
         |    (PARTITION BY partition ORDER BY base_offset) AS pc FROM stm WHERE staged),
         | asz AS (
         |  SELECT partition, 'size' AS policy, min(base_offset) AS start_offset,
         |    max(committed_offset) AS last_offset, CAST(count(*) AS BIGINT) AS n_segments,
         |    CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         |    CAST(COALESCE(min_by(delta_offset, base_offset)
         |      FILTER (WHERE delta_offset IS NOT NULL), 0) AS BIGINT) AS start_delta,
         |    CAST(sum(CASE WHEN pc IS NOT NULL AND pc + 1 <> base_offset THEN 1 ELSE 0 END)
         |      AS BIGINT) = 0 AS clean_download
         |  FROM gsz GROUP BY 1),
         | atm AS (
         |  SELECT partition, 'time' AS policy, min(base_offset) AS start_offset,
         |    max(committed_offset) AS last_offset, CAST(count(*) AS BIGINT) AS n_segments,
         |    CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         |    CAST(COALESCE(min_by(delta_offset, base_offset)
         |      FILTER (WHERE delta_offset IS NOT NULL), 0) AS BIGINT) AS start_delta,
         |    CAST(sum(CASE WHEN pc IS NOT NULL AND pc + 1 <> base_offset THEN 1 ELSE 0 END)
         |      AS BIGINT) = 0 AS clean_download
         |  FROM gtm GROUP BY 1)
         |SELECT * FROM asz UNION ALL SELECT * FROM atm
         |ORDER BY policy, partition""".stripMargin,

    "ct_scrub_status" ->
      s"""$LogCte,${scrubCte(100)},
         | stot AS (SELECT partition, count(*) AS n_segments FROM sm3 GROUP BY 1),
         | svis AS (SELECT partition, count(*) AS segments_visited,
         |            max(committed_offset) AS last_v
         |          FROM srk WHERE rn <= 100 GROUP BY 1),
         | sagg AS (SELECT partition, count(*) AS n_anomalies,
         |            count(CASE WHEN anomaly_type = 'missing_segment' THEN 1 END)
         |              AS n_missing_segments,
         |            count(CASE WHEN anomaly_type = 'missing_spillover_manifest' THEN 1 END)
         |              AS n_missing_spillover
         |          FROM sanoms GROUP BY 1)
         |SELECT t.partition,
         |  CASE WHEN COALESCE(v.segments_visited, 0) >= t.n_segments
         |       THEN 'full' ELSE 'partial' END AS status,
         |  CASE WHEN COALESCE(v.segments_visited, 0) < t.n_segments
         |       THEN v.last_v END AS last_scrubbed_offset,
         |  CAST(COALESCE(v.segments_visited, 0) AS BIGINT) AS segments_visited,
         |  CAST(COALESCE(a.n_anomalies, 0) AS BIGINT) AS n_anomalies,
         |  CAST(COALESCE(a.n_missing_segments, 0) AS BIGINT) AS n_missing_segments,
         |  CAST(COALESCE(a.n_missing_spillover, 0) AS BIGINT) AS n_missing_spillover
         |FROM stot t LEFT JOIN svis v USING (partition) LEFT JOIN sagg a USING (partition)
         |ORDER BY t.partition""".stripMargin,

    "adm_enterprise_report" ->
      """WITH cfg(key, value) AS (VALUES
        |  ('audit_enabled', 'true'), ('cloud_storage_enabled', 'false'),
        |  ('partition_autobalancing_mode', 'continuous'),
        |  ('core_balancing_continuous', 'false'),
        |  ('sasl_mechanisms', 'SCRAM,GSSAPI'), ('http_authentication', 'BASIC'),
        |  ('schema_id_validation', 'compat'), ('rbac_roles_defined', '0'),
        |  ('fips_mode', 'disabled'), ('iceberg_enabled', 'true'),
        |  ('default_leaders_preference', 'racks:r1')),
        | one AS (SELECT
        |  max(CASE WHEN key = 'audit_enabled' THEN value END) AS audit_enabled,
        |  max(CASE WHEN key = 'cloud_storage_enabled' THEN value END) AS cloud_storage_enabled,
        |  max(CASE WHEN key = 'partition_autobalancing_mode' THEN value END) AS pam,
        |  max(CASE WHEN key = 'core_balancing_continuous' THEN value END) AS cbc,
        |  max(CASE WHEN key = 'sasl_mechanisms' THEN value END) AS sasl,
        |  max(CASE WHEN key = 'http_authentication' THEN value END) AS http_auth,
        |  max(CASE WHEN key = 'schema_id_validation' THEN value END) AS siv,
        |  max(CASE WHEN key = 'rbac_roles_defined' THEN value END) AS rbac_n,
        |  max(CASE WHEN key = 'fips_mode' THEN value END) AS fips,
        |  max(CASE WHEN key = 'iceberg_enabled' THEN value END) AS ice,
        |  max(CASE WHEN key = 'default_leaders_preference' THEN value END) AS dlp
        | FROM cfg),
        | feats AS (
        |  SELECT 'audit_logging' AS feature, COALESCE(audit_enabled = 'true', FALSE) AS enabled FROM one
        |  UNION ALL SELECT 'cloud_storage', COALESCE(cloud_storage_enabled = 'true', FALSE) FROM one
        |  UNION ALL SELECT 'partition_auto_balancing_continuous', COALESCE(pam = 'continuous', FALSE) FROM one
        |  UNION ALL SELECT 'core_balancing_continuous', COALESCE(cbc = 'true', FALSE) FROM one
        |  UNION ALL SELECT 'gssapi', COALESCE(list_contains(string_split(sasl, ','), 'GSSAPI'), FALSE) FROM one
        |  UNION ALL SELECT 'oidc', COALESCE(list_contains(string_split(sasl, ','), 'OAUTHBEARER'), FALSE)
        |            OR COALESCE(list_contains(string_split(http_auth, ','), 'OIDC'), FALSE) FROM one
        |  UNION ALL SELECT 'schema_id_validation', siv IS NOT NULL AND siv <> 'none' FROM one
        |  UNION ALL SELECT 'rbac', COALESCE(CAST(rbac_n AS BIGINT), 0) > 0 FROM one
        |  UNION ALL SELECT 'fips', fips IS NOT NULL AND fips <> 'disabled' FROM one
        |  UNION ALL SELECT 'datalake_iceberg', COALESCE(ice = 'true', FALSE) FROM one
        |  UNION ALL SELECT 'leadership_pinning', dlp IS NOT NULL AND dlp <> 'none' FROM one)
        |SELECT feature, enabled, enabled AS violation FROM feats ORDER BY feature""".stripMargin,

    "adm_feature_table" ->
      """WITH specs(name, require_version, available_policy, prepare_policy) AS (VALUES
        |   ('central_config', 1, 'always', 'always'),
        |   ('cloud_retention', 3, 'always', 'requires_migration'),
        |   ('node_isolation', 5, 'always', 'always'),
        |   ('schema_id_validation', 7, 'explicit_only', 'always'),
        |   ('remote_labels', 2, 'explicit_only', 'always'),
        |   ('new_cluster_opt', 4, 'new_clusters_only', 'always'),
        |   ('tiered_fast', 6, 'always', 'requires_migration'),
        |   ('iceberg_mode', 6, 'always', 'requires_migration'),
        |   ('future_feature', 12, 'always', 'always')),
        | nodes(node_id, version) AS (VALUES (0, 8), (1, 9), (2, 8), (3, 10)),
        | cmds(seq, op, feature) AS (VALUES
        |   (1, 'enable', 'schema_id_validation'),
        |   (2, 'complete_migration', 'cloud_retention'),
        |   (3, 'disable', 'node_isolation'),
        |   (4, 'disable', 'central_config'),
        |   (5, 'enable', 'central_config'),
        |   (6, 'disable', 'iceberg_mode')),
        | mv AS (SELECT min(version) AS v FROM nodes),
        | la AS (SELECT feature, arg_max(op, seq) AS last_admin FROM cmds
        |        WHERE op IN ('enable', 'disable') GROUP BY 1),
        | mg AS (SELECT DISTINCT feature FROM cmds WHERE op = 'complete_migration'),
        | pr AS (SELECT s.name, s.require_version, s.available_policy, s.prepare_policy,
        |    CASE
        |     WHEN NOT (mv.v >= s.require_version AND
        |               (s.available_policy <> 'new_clusters_only' OR 3 >= s.require_version))
        |       THEN 'unavailable'
        |     WHEN s.available_policy = 'explicit_only' AND la.last_admin IS NULL THEN 'available'
        |     WHEN s.prepare_policy = 'requires_migration' AND mg.feature IS NULL THEN 'preparing'
        |     ELSE 'active' END AS prog, la.last_admin
        |   FROM specs s CROSS JOIN mv
        |   LEFT JOIN la ON la.feature = s.name
        |   LEFT JOIN mg ON mg.feature = s.name)
        |SELECT name, CAST(require_version AS BIGINT) AS require_version,
        |  available_policy, prepare_policy,
        |  CASE WHEN last_admin = 'disable' THEN
        |     CASE prog WHEN 'active' THEN 'disabled_active'
        |               WHEN 'preparing' THEN 'disabled_preparing'
        |               ELSE 'disabled_clean' END
        |   ELSE prog END AS state
        |FROM pr ORDER BY name""".stripMargin,

    "t5_producer_eviction" ->
      """SELECT CAST(seq AS BIGINT) AS seq, op, CAST(pid AS BIGINT) AS pid,
        |       outcome, evicted, CAST(n_active AS INTEGER) AS n_active
        | FROM (VALUES
        |  (1, 'register', 1, 'ok', '', 1),
        |  (2, 'register', 2, 'ok', '', 2),
        |  (3, 'register', 3, 'ok', '', 3),
        |  (4, 'begin_tx', 1, 'ok', '', 3),
        |  (5, 'register', 4, 'ok', '2', 3),
        |  (6, 'data', 2, 'unknown_producer', '', 3),
        |  (7, 'begin_tx', 2, 'unknown_producer', '', 3),
        |  (8, 'begin_tx', 3, 'ok', '', 3),
        |  (9, 'begin_tx', 4, 'ok', '', 3),
        |  (10, 'register', 5, 'cache_full', '', 3),
        |  (11, 'end_tx', 1, 'ok', '', 3),
        |  (12, 'register', 5, 'ok', '1', 3),
        |  (13, 'reaper', 0, 'ok', '5', 2),
        |  (14, 'end_tx', 3, 'ok', '', 2),
        |  (15, 'reaper', 0, 'ok', '', 2),
        |  (16, 'end_tx', 4, 'ok', '', 2),
        |  (17, 'reaper', 0, 'ok', '3,4', 0))
        | t(seq, op, pid, outcome, evicted, n_active) ORDER BY seq""".stripMargin,

    // Datalake coordinator admission log — the oracle re-folds the
    // control log from scratch (recursive per-partition chain; see
    // DlcCte) rather than pinning a golden table: every rung of the
    // add/commit/lifecycle ladders is re-derived in DuckDB SQL.
    "dlc_admission" ->
      s"""$DlcCte
         | SELECT seq, op, topic, part AS "partition", errc, lifecycle, revision,
         |        last_committed, pending_count, pending_last
         | FROM outs ORDER BY seq""".stripMargin,

    // Final coordinator state: same replay, then the declarative
    // rollup — last successful data op per partition, topic lifecycle
    // from the last applied lifecycle row, purge clears partitions
    // whose last touch precedes it (state_update.cc:280-283).
    "dlc_committed" ->
      s"""$DlcCte,
         | datap AS (SELECT * FROM outs
         |   WHERE op IN ('add_files', 'mark_committed') AND errc = 'success'),
         | lastseq AS (SELECT topic, part, max(seq) AS last_seq
         |   FROM datap GROUP BY 1, 2),
         | lastpp AS (SELECT d.topic, d.part, s.last_seq, d.last_committed,
         |     d.pending_count, d.pending_last
         |   FROM datap d JOIN lastseq s
         |     ON s.topic = d.topic AND s.part = d.part AND s.last_seq = d.seq),
         | lastlc AS (SELECT topic, max_by(lifecycle, seq) AS lifecycle,
         |     max_by(revision, seq) AS revision
         |   FROM outs WHERE op = 'lifecycle' AND errc IN ('success', 'noop')
         |   GROUP BY 1),
         | lastpurge AS (SELECT topic, max(seq) AS purge_seq FROM outs
         |   WHERE op = 'lifecycle' AND errc = 'success' AND lifecycle = 'purged'
         |   GROUP BY 1)
         | SELECT p.topic, p.part AS "partition", l.lifecycle, l.revision,
         |        p.last_committed, p.pending_count, p.pending_last
         | FROM lastpp p LEFT JOIN lastpurge g ON g.topic = p.topic
         | LEFT JOIN lastlc l ON l.topic = p.topic
         | WHERE g.purge_seq IS NULL OR p.last_seq > g.purge_seq
         | ORDER BY p.topic, p.part""".stripMargin,

    "dlc_commit_decisions" ->
      s"""$DlcCommitCte
         | SELECT scenario, topic, part AS "partition", added_at, entry_end, action
         | FROM dec ORDER BY scenario, topic, "partition", added_at""".stripMargin,

    "dlc_commit_updates" ->
      s"""$DlcCommitCte,
         | pertopic AS (SELECT scenario, topic,
         |     max(CASE WHEN action = 'append' THEN added_at END) AS new_property,
         |     count(CASE WHEN action = 'append' THEN 1 END) > 0 AS iceberg_txn
         |   FROM dec GROUP BY 1, 2)
         | SELECT d.scenario, d.topic, d.part AS "partition",
         |        max(d.entry_end) AS new_committed,
         |        any_value(t.iceberg_txn) AS iceberg_txn,
         |        any_value(t.new_property) AS new_property
         | FROM dec d JOIN pertopic t
         |   ON t.scenario = d.scenario AND t.topic = d.topic
         | GROUP BY 1, 2, 3
         | ORDER BY d.scenario, d.topic, "partition"""".stripMargin,

    // End-to-end delivery read-back: the produced slice recomputed
    // directly — exactly-once means the Iceberg table equals it even
    // though the committer ran a crash-retry replay in between.
    "dlc_e2e" ->
      """WITH src AS (SELECT * FROM events WHERE event_id % 17 = 0),
        | log AS (SELECT CAST(user_id % 2 AS INTEGER) AS partition,
        |   CAST(row_number() OVER (PARTITION BY user_id % 2 ORDER BY event_id) - 1 AS BIGINT) AS "offset",
        |   event_id, event_type FROM src)
        | SELECT partition, "offset", event_id, event_type
        | FROM log ORDER BY partition, "offset"""".stripMargin,

    // Scale-invariant committer-pass protocol constants (see the
    // fixture scaladoc): snapshot ids, versions, property offsets and
    // dedup splits are fixed by the protocol, not the data volume.
    "dlc_e2e_passes" ->
      """SELECT CAST(pass AS INTEGER) AS pass, iceberg_txn,
        |       CAST(appended AS INTEGER) AS appended,
        |       CAST(dedup_skipped AS INTEGER) AS dedup_skipped,
        |       CAST(snapshot_id AS BIGINT) AS snapshot_id,
        |       CAST(table_version AS INTEGER) AS table_version,
        |       CAST(property_offset AS BIGINT) AS property_offset
        | FROM (VALUES
        |  (1, TRUE, 4, 0, 1, 2, 5),
        |  (2, FALSE, 0, 4, -1, 2, 5),
        |  (3, TRUE, 4, 4, 2, 3, 9))
        |  t(pass, iceberg_txn, appended, dedup_skipped, snapshot_id,
        |    table_version, property_offset)
        | ORDER BY pass""".stripMargin,

    // Golden outcome table for the 32-command migration fixture — the
    // FSM is single-raft-shard sequential; the pin is the regression
    // gate (same style as adm_api_versions / adm_find_coordinator).
    "mig_outcomes" ->
      """SELECT CAST(seq AS BIGINT) AS seq, op, CAST(id AS BIGINT) AS id,
        |       errc, state_after
        | FROM (VALUES
        |  (1, 'create', 1, 'success', 'planned'),
        |  (2, 'create', 1, 'data_migration_already_exists', CAST(NULL AS VARCHAR)),
        |  (3, 'create', 2, 'data_migration_invalid_definition', NULL),
        |  (4, 'create', 3, 'data_migration_invalid_resources', NULL),
        |  (5, 'create', 4, 'topic_not_exists', NULL),
        |  (6, 'create', 5, 'data_migration_invalid_resources', NULL),
        |  (7, 'create', 6, 'resource_is_being_migrated', NULL),
        |  (8, 'create', 7, 'topic_already_exists', NULL),
        |  (9, 'create', 8, 'success', 'planned'),
        |  (10, 'update_state', 1, 'success', 'preparing'),
        |  (11, 'update_state', 1, 'invalid_data_migration_state', 'preparing'),
        |  (12, 'update_state', 1, 'success', 'prepared'),
        |  (13, 'update_state', 1, 'success', 'executing'),
        |  (14, 'update_state', 99, 'data_migration_not_exists', NULL),
        |  (15, 'remove', 1, 'invalid_data_migration_state', 'executing'),
        |  (16, 'update_state', 8, 'success', 'preparing'),
        |  (17, 'update_state', 8, 'success', 'prepared'),
        |  (18, 'update_state', 8, 'success', 'canceling'),
        |  (19, 'update_state', 8, 'success', 'cancelled'),
        |  (20, 'create', 9, 'success', 'planned'),
        |  (21, 'remove', 8, 'success', 'deleted'),
        |  (22, 'update_state', 8, 'data_migration_not_exists', NULL),
        |  (23, 'update_state', 1, 'success', 'executed'),
        |  (24, 'update_state', 1, 'success', 'cut_over'),
        |  (25, 'create', 10, 'resource_is_being_migrated', NULL),
        |  (26, 'update_state', 1, 'success', 'finished'),
        |  (27, 'create', 11, 'success', 'planned'),
        |  (28, 'update_state', 9, 'success', 'preparing'),
        |  (29, 'update_state', 9, 'success', 'prepared'),
        |  (30, 'update_state', 11, 'success', 'preparing'),
        |  (31, 'update_state', 11, 'success', 'prepared'),
        |  (32, 'update_state', 11, 'success', 'executing'))
        | t(seq, op, id, errc, state_after) ORDER BY seq""".stripMargin,

    "mig_table" ->
      """SELECT CAST(id AS BIGINT) AS id, direction,
        |       CAST(created_ts AS BIGINT) AS created_ts,
        |       CAST(n_topics AS INTEGER) AS n_topics,
        |       CAST(n_groups AS INTEGER) AS n_groups, state,
        |       CAST(completed_ts AS BIGINT) AS completed_ts
        | FROM (VALUES
        |  (1, 'outbound', 1000, 1, 1, 'finished', 1250),
        |  (9, 'inbound', 1190, 1, 0, 'prepared', NULL),
        |  (11, 'outbound', 1260, 1, 1, 'executing', NULL))
        | t(id, direction, created_ts, n_topics, n_groups, state, completed_ts)
        | ORDER BY id""".stripMargin,

    "mig_resources" ->
      """SELECT kind, name, CAST(migration_id AS BIGINT) AS migration_id,
        |       direction, restriction
        | FROM (VALUES
        |  ('group', 'grp-a', 11, 'outbound', 'read_only'),
        |  ('topic', 'clicks_t', 11, 'outbound', 'read_only'),
        |  ('topic', 'inb_t', 9, 'inbound', 'fully_blocked'))
        | t(kind, name, migration_id, direction, restriction)
        | ORDER BY kind, name""".stripMargin,

    "mig_write_gate" ->
      """SELECT topic, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN topic IN ('clicks_t', 'inb_t') THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted,
        |  CASE topic WHEN 'clicks_t' THEN 'read_only'
        |             WHEN 'inb_t' THEN 'fully_blocked' END AS reject_reason
        | FROM (SELECT CASE CAST(user_id % 4 AS INTEGER)
        |         WHEN 0 THEN 'orders_t' WHEN 1 THEN 'clicks_t'
        |         WHEN 2 THEN 'inb_t' ELSE 'legacy_t' END AS topic
        |       FROM events)
        | GROUP BY 1 ORDER BY 1""".stripMargin,

    "g1_group_membership" ->
      """WITH cmds AS (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS grp, event_id AS seq,
        |         'm' || CAST(user_id AS VARCHAR) AS member,
        |         CASE WHEN event_type = 'signup' THEN 'join'
        |              WHEN event_type = 'error' THEN 'leave'
        |              ELSE 'heartbeat' END AS cmd
        |  FROM events),
        | mc AS (
        |  SELECT grp, seq, member, cmd,
        |         COALESCE(lag(cmd) OVER (PARTITION BY grp, member ORDER BY seq), 'leave') AS prev
        |  FROM cmds WHERE cmd IN ('join', 'leave')),
        | eff AS (
        |  SELECT * FROM mc
        |  WHERE (cmd = 'join' AND prev = 'leave') OR (cmd = 'leave' AND prev = 'join')),
        | gen AS (SELECT grp, count(*) AS generation FROM eff GROUP BY 1),
        | last_eff AS (
        |  SELECT grp, member, cmd, seq,
        |         row_number() OVER (PARTITION BY grp, member ORDER BY seq DESC) AS rn
        |  FROM eff),
        | cur AS (SELECT grp, member, seq AS joined_seq FROM last_eff WHERE rn = 1 AND cmd = 'join'),
        | nm AS (SELECT grp, count(*) AS n_members FROM cur GROUP BY 1),
        | ldr AS (
        |  SELECT grp, member AS leader FROM (
        |    SELECT grp, member, row_number() OVER (PARTITION BY grp ORDER BY joined_seq, member) AS rn
        |    FROM cur) WHERE rn = 1),
        | grps AS (SELECT DISTINCT grp FROM cmds)
        | SELECT g.grp AS "group",
        |        CASE WHEN COALESCE(n.n_members, 0) = 0 THEN 'Empty' ELSE 'Stable' END AS state,
        |        COALESCE(ge.generation, 0) AS generation,
        |        COALESCE(n.n_members, 0) AS n_members,
        |        COALESCE(l.leader, '') AS leader,
        |        CASE WHEN COALESCE(n.n_members, 0) = 0 THEN '' ELSE 'range' END AS protocol
        | FROM grps g
        | LEFT JOIN gen ge ON g.grp = ge.grp
        | LEFT JOIN nm n ON g.grp = n.grp
        | LEFT JOIN ldr l ON g.grp = l.grp
        | ORDER BY 1""".stripMargin,

    // Live-mode final state, derived in SQL: every member completes one
    // join round (generation = member count), the leader is the earliest
    // joiner, the leader's closing sync makes the group Stable, and the
    // session sweep expires members with no activity past the 99th
    // percentile of the seq domain (any expiry leaves the group
    // PreparingRebalance with the generation unchanged).
    "g1_group_live" ->
      """WITH mx AS (SELECT max(event_id) AS maxe FROM events),
        | ue AS (SELECT CAST(user_id % 3 AS INTEGER) AS gi, user_id,
        |               min(event_id) AS fe, max(event_id) AS le
        |        FROM events GROUP BY 1, 2),
        | ld AS (SELECT gi, user_id AS leader_uid,
        |               row_number() OVER (PARTITION BY gi ORDER BY fe) AS rn FROM ue),
        | l AS (SELECT gi, leader_uid FROM ld WHERE rn = 1),
        | agg AS (
        |   SELECT u.gi, count(*) AS n_total,
        |          CAST(sum(CASE WHEN u.le > (SELECT maxe * 99 // 100 FROM mx)
        |                          OR u.user_id = l2.leader_uid THEN 1 ELSE 0 END) AS BIGINT) AS n_surv
        |   FROM ue u JOIN l l2 ON u.gi = l2.gi GROUP BY 1)
        | SELECT 'g' || CAST(a.gi AS VARCHAR) AS "group",
        |        CASE WHEN a.n_surv < a.n_total THEN 'PreparingRebalance' ELSE 'Stable' END AS state,
        |        CAST(a.n_total AS BIGINT) AS generation,
        |        CAST(a.n_surv AS BIGINT) AS n_members,
        |        'm' || CAST(l.leader_uid AS VARCHAR) AS leader,
        |        'range' AS protocol
        | FROM agg a JOIN l ON a.gi = l.gi ORDER BY 1""".stripMargin,

    // Static-membership final state in SQL: generation counts only
    // effective joins/leaves per (group, instance) — rejoins of a present
    // instance replace the member id without bumping it; the surviving
    // member id per instance is its LAST join; seniority (leader choice)
    // is the last EFFECTIVE join.
    "g1_static_membership" ->
      """WITH mc AS (
        |  SELECT user_id, event_id AS seq,
        |         CASE WHEN event_type = 'signup' THEN 'join' ELSE 'leave' END AS cmd
        |  FROM events WHERE event_type IN ('signup', 'error')),
        | eff AS (
        |  SELECT user_id, seq, cmd,
        |         coalesce(lag(cmd) OVER (PARTITION BY user_id ORDER BY seq), 'leave') AS prev
        |  FROM mc),
        | e2 AS (SELECT * FROM eff
        |        WHERE (cmd = 'join' AND prev = 'leave') OR (cmd = 'leave' AND prev = 'join')),
        | gen AS (SELECT CAST(user_id % 3 AS INTEGER) AS gi, count(*) AS generation FROM e2 GROUP BY 1),
        | last_eff AS (
        |  SELECT user_id, cmd, seq,
        |         row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn FROM e2),
        | cur AS (SELECT user_id, seq AS joined_seq FROM last_eff WHERE rn = 1 AND cmd = 'join'),
        | curid AS (
        |  SELECT c.user_id, c.joined_seq,
        |         'm' || CAST(c.user_id AS VARCHAR) || '-' || CAST(max(m.seq) AS VARCHAR) AS member_id
        |  FROM cur c JOIN mc m ON c.user_id = m.user_id AND m.cmd = 'join'
        |  GROUP BY 1, 2),
        | nm AS (SELECT CAST(user_id % 3 AS INTEGER) AS gi, count(*) AS n_members FROM cur GROUP BY 1),
        | ldr AS (SELECT gi, member_id AS leader FROM (
        |    SELECT CAST(user_id % 3 AS INTEGER) AS gi, member_id,
        |           row_number() OVER (PARTITION BY user_id % 3 ORDER BY joined_seq) AS rn
        |    FROM curid) WHERE rn = 1),
        | grps AS (SELECT DISTINCT CAST(user_id % 3 AS INTEGER) AS gi FROM mc)
        | SELECT 'g' || CAST(g.gi AS VARCHAR) AS "group",
        |        CASE WHEN coalesce(n.n_members, 0) = 0 THEN 'Empty' ELSE 'Stable' END AS state,
        |        coalesce(ge.generation, 0) AS generation,
        |        coalesce(n.n_members, 0) AS n_members,
        |        coalesce(l.leader, '') AS leader,
        |        CASE WHEN coalesce(n.n_members, 0) = 0 THEN '' ELSE 'range' END AS protocol
        | FROM grps g
        | LEFT JOIN gen ge ON g.gi = ge.gi
        | LEFT JOIN nm n ON g.gi = n.gi
        | LEFT JOIN ldr l ON g.gi = l.gi
        | ORDER BY 1""".stripMargin,

    // The same membership fold as g1_group_membership, projected to
    // (group, state) and narrowed by the KIP-518 states filter.
    "adm_list_groups" ->
      """WITH cmds AS (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS grp, event_id AS seq,
        |         'm' || CAST(user_id AS VARCHAR) AS member,
        |         CASE WHEN event_type = 'signup' THEN 'join'
        |              WHEN event_type = 'error' THEN 'leave'
        |              ELSE 'heartbeat' END AS cmd
        |  FROM events),
        | mc AS (
        |  SELECT grp, seq, member, cmd,
        |         COALESCE(lag(cmd) OVER (PARTITION BY grp, member ORDER BY seq), 'leave') AS prev
        |  FROM cmds WHERE cmd IN ('join', 'leave')),
        | eff AS (
        |  SELECT * FROM mc
        |  WHERE (cmd = 'join' AND prev = 'leave') OR (cmd = 'leave' AND prev = 'join')),
        | last_eff AS (
        |  SELECT grp, member, cmd, seq,
        |         row_number() OVER (PARTITION BY grp, member ORDER BY seq DESC) AS rn
        |  FROM eff),
        | cur AS (SELECT grp, member FROM last_eff WHERE rn = 1 AND cmd = 'join'),
        | nm AS (SELECT grp, count(*) AS n_members FROM cur GROUP BY 1),
        | grps AS (SELECT DISTINCT grp FROM cmds)
        | SELECT g.grp AS "group",
        |        CASE WHEN COALESCE(n.n_members, 0) = 0 THEN 'Empty' ELSE 'Stable' END AS state
        | FROM grps g LEFT JOIN nm n ON g.grp = n.grp
        | WHERE COALESCE(n.n_members, 0) > 0
        | ORDER BY 1""".stripMargin,

    // KIP-211 expiry re-derived: LWW per key, then the per-state policy.
    // now = 2024-02-01 (1706745600000), retention = 36 h (129600000),
    // g1 empty-since = 2024-01-10 (1704844800000).
    "g2_offset_expiry" ->
      """WITH c AS (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS grp,
        |         CASE WHEN user_id % 2 = 0 THEN 'events' ELSE 'aux' END AS topic,
        |         CAST(user_id % 8 AS INTEGER) AS partition,
        |         event_id AS committed_offset, event_id AS commit_seq,
        |         epoch_ms(ts) AS commit_ts
        |  FROM events WHERE event_type = 'purchase'),
        | lww AS (
        |  SELECT * FROM c
        |  QUALIFY row_number() OVER (PARTITION BY grp, topic, partition ORDER BY commit_seq DESC) = 1),
        | o AS (SELECT *, partition = 7 AS non_reclaimable FROM lww)
        | SELECT grp AS "group", topic, partition, committed_offset, commit_ts, non_reclaimable,
        |  CASE
        |   WHEN non_reclaimable THEN FALSE
        |   WHEN grp = 'g0' AND topic = 'events' THEN FALSE
        |   WHEN grp = 'g0' THEN 1706745600000 - commit_ts >= 129600000
        |   WHEN grp = 'g1' THEN 1706745600000 - 1704844800000 >= 129600000
        |   ELSE 1706745600000 - commit_ts >= 129600000
        |  END AS expired
        | FROM o ORDER BY "group", topic, partition""".stripMargin,

    "g2_group_offsets" ->
      """SELECT "group", topic, partition, committed_offset FROM (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS "group", 'events' AS topic,
        |         CAST(user_id % 8 AS INTEGER) AS partition, event_id AS committed_offset,
        |         row_number() OVER (PARTITION BY user_id % 3, user_id % 8 ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase')
        | WHERE rn = 1 ORDER BY "group", partition""".stripMargin,

    // Heartbeat v4: 20 frame+header + (1+6 group + 4 gen + 1+2 member +
    //   1 null instance + 1 tags) = 36; response 9 + 4 + 2 + 1 = 16.
    // LeaveGroup v4: 20 + (1+6 + 1 len + (1+2 + 1 + 1) + 1) = 34;
    //   response 9 + (4 + 2 + 1 + (1+2 + 1 + 2 + 1) + 1) = 24.
    "g1_wire_lifecycle" ->
      """SELECT * FROM (VALUES
        |  (1, 'heartbeat', 'm0', CAST(1 AS BIGINT), 0, 36, 16, TRUE),
        |  (2, 'heartbeat', 'm9', 1, 25, 36, 16, TRUE),
        |  (3, 'heartbeat', 'm1', 2, 22, 36, 16, TRUE),
        |  (4, 'leave', 'm1', -1, 0, 34, 24, TRUE),
        |  (5, 'leave', 'm9', -1, 25, 34, 24, TRUE),
        |  (6, 'heartbeat', 'm1', 1, 25, 36, 16, TRUE))
        | t(step, api, member, generation_sent, error_code, req_bytes,
        |   resp_bytes, corr_ok) ORDER BY step""".stripMargin,

    // Full rebalance round: 6 members, 8 partitions, range assignor →
    // len 1 rem 2: partitions 0-3 pair onto m0/m1, 4-7 spread m2-m5.
    "g4_wire_rebalance" ->
      """WITH p AS (SELECT CAST(range AS INTEGER) AS partition FROM range(8)),
        | a AS (SELECT partition,
        |   CASE WHEN partition < 4 THEN partition // 2 ELSE partition - 2 END AS idx
        |   FROM p)
        | SELECT 'm' || CAST(idx AS VARCHAR) AS member, 1 AS generation,
        |        'range' AS protocol, (idx = 0) AS is_leader,
        |        'events' AS topic, partition, 0 AS error_code
        | FROM a ORDER BY partition""".stripMargin,

    // OffsetCommit v8 size laws: request = 20 frame+header + body
    //   (3 "g0" + 4 generation + 3 "m1" + 1 null instance + 1 topics len
    //   + 7 name + 1 parts len + 18/partition (4+8+4 + 1 null metadata +
    //   1 tags) + 1 + 1 tags) = 42 + 18·np; response = 9 + (4 throttle +
    //   1 + 7 + 1 + 7/partition (4+2+1) + 1 + 1) = 24 + 7·np, np = the
    //   partitions g0 actually committed.
    "g2_wire_offset_commit" ->
      """WITH o AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
        |           max(event_id) AS off
        |    FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0 GROUP BY 1),
        | n AS (SELECT count(*) AS np FROM o)
        | SELECT 'g0' AS "group", 'events' AS topic, o.partition,
        |        CAST(o.off AS BIGINT) AS committed_offset, 0 AS error_code,
        |        CAST(42 + 18 * n.np AS INTEGER) AS req_bytes,
        |        CAST(24 + 7 * n.np AS INTEGER) AS resp_bytes,
        |        TRUE AS corr_ok
        | FROM o, n ORDER BY o.partition""".stripMargin,

    // OffsetFetch v7 frame-size laws: request = 4 frame + 16 header v2 +
    //   body (3 "g0" + 1 topics len + 7 name + 1 parts len + 4/partition
    //   + 1 tags + 1 require_stable + 1 tags) = 35 + 4·np; response =
    //   4 frame + 5 header v1 + body (4 throttle + 1 topics len + 7 name
    //   + 1 parts len + 20/partition (4+8+4 + 1 null metadata + 2 err +
    //   1 tags) + 1 tags + 2 error + 1 tags) = 26 + 20·np.
    "g2_wire_offset_fetch" ->
      """WITH o AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
        |           max(event_id) AS off
        |    FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0 GROUP BY 1),
        | p AS (SELECT CAST(range AS INTEGER) AS partition FROM range(8)),
        | n AS (SELECT count(*) AS np FROM p)
        | SELECT 'g0' AS "group", 'events' AS topic, p.partition,
        |        CAST(coalesce(o.off, -1) AS BIGINT) AS committed_offset,
        |        -1 AS leader_epoch, 0 AS error_code,
        |        CAST(35 + 4 * n.np AS INTEGER) AS req_bytes,
        |        CAST(26 + 20 * n.np AS INTEGER) AS resp_bytes,
        |        TRUE AS corr_ok
        | FROM p LEFT JOIN o ON o.partition = p.partition, n
        | ORDER BY p.partition""".stripMargin,

    "g2_offset_delete" ->
      """WITH commits AS (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS "group", 'events' AS topic,
        |         CAST(user_id % 8 AS INTEGER) AS partition, event_id AS committed_offset,
        |         event_id AS commit_seq, FALSE AS deleted
        |  FROM events WHERE event_type = 'purchase'),
        | dels("group", topic, partition, committed_offset, commit_seq, deleted) AS (
        |  VALUES
        |   ('g0', 'events', 0, CAST(NULL AS BIGINT), CAST(1000000000 AS BIGINT), TRUE),
        |   ('g0', 'events', 1, NULL, 1000000000, TRUE),
        |   ('g0', 'events', 2, NULL, 1000000000, TRUE),
        |   ('g0', 'events', 3, NULL, 1000000000, TRUE),
        |   ('g1', 'events', 1, NULL, -1, TRUE)),
        | alllog AS (SELECT * FROM commits UNION ALL SELECT * FROM dels),
        | lww AS (
        |  SELECT * FROM alllog
        |  QUALIFY row_number() OVER (PARTITION BY "group", topic, partition ORDER BY commit_seq DESC) = 1)
        | SELECT "group", topic, partition, committed_offset FROM lww WHERE NOT deleted
        | ORDER BY "group", partition""".stripMargin,

    "g5_sequence_check" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 0, CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'ok'),
        |  (1, 0, 1, 2, 'ok'),
        |  (1, 0, 1, 3, 'duplicate_sequence'),
        |  (1, 0, 2, 4, 'ok'),
        |  (1, 0, 4, 5, 'out_of_order_sequence'),
        |  (1, 0, 3, 6, 'ok'),
        |  (2, 0, 5, 1, 'out_of_order_sequence'),
        |  (2, 0, 0, 2, 'ok'),
        |  (2, 0, 1, 3, 'ok'),
        |  (3, 0, 0, 1, 'ok'),
        |  (3, 1, 0, 2, 'ok'),
        |  (3, 0, 1, 3, 'fenced_epoch'),
        |  (3, 1, 1, 4, 'ok'))
        | t(pid, epoch, seq, arrival, status) ORDER BY pid, arrival""".stripMargin,

    "g5_idempotent_producer" ->
      """SELECT user_id, seq, event_id AS first_arrival, event_type, attempts FROM (
        |  SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS seq,
        |         event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id, json_extract_string(props, '$.k') ORDER BY event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id, json_extract_string(props, '$.k')) AS attempts
        |  FROM events)
        | WHERE rn = 1 ORDER BY user_id, seq""".stripMargin,

    "t1_init_producer_id" ->
      """SELECT user_id, CAST(row_number() OVER (ORDER BY user_id) - 1 AS BIGINT) AS pid
        | FROM (SELECT DISTINCT user_id FROM events) ORDER BY user_id""".stripMargin,

    "t2_commit_abort" ->
      s"""$TxnCte SELECT partition, "offset", pid, txn_seq, decision FROM ofs
         | WHERE is_control ORDER BY partition, "offset"""".stripMargin,

    "p1_batch_type_filter" ->
      s"""$TxnCte SELECT partition, count(*) AS n_raft_data,
         |        CAST(sum(CASE WHEN is_control THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
         |        max("offset") AS max_offset
         | FROM ofs WHERE batch_type = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "p4_read_committed" ->
      s"""$TxnCte,
         | aborted AS (
         |  SELECT o.partition, o.pid, o.txn_seq, min(o."offset") AS first, max(o."offset") AS last
         |  FROM ofs o
         |  WHERE NOT o.is_control AND EXISTS (
         |    SELECT 1 FROM ofs m WHERE m.is_control AND m.decision = 'abort'
         |      AND m.partition = o.partition AND m.pid = o.pid AND m.txn_seq = o.txn_seq)
         |  GROUP BY 1, 2, 3),
         | open_tx AS (
         |  SELECT o.partition, min(o."offset") AS open_min FROM ofs o
         |  WHERE NOT o.is_control AND NOT EXISTS (
         |    SELECT 1 FROM ofs m WHERE m.is_control
         |      AND m.partition = o.partition AND m.pid = o.pid AND m.txn_seq = o.txn_seq)
         |  GROUP BY 1),
         | hw AS (SELECT partition, max("offset") + 1 AS hwm FROM ofs GROUP BY 1),
         | lso AS (SELECT h.partition, COALESCE(o.open_min, h.hwm) AS lso
         |         FROM hw h LEFT JOIN open_tx o ON h.partition = o.partition)
         | SELECT o.event_type, count(*) AS n,
         |        CAST(sum(CAST(o.value AS DECIMAL(12,2))) AS DOUBLE) AS total
         | FROM ofs o JOIN lso l ON o.partition = l.partition
         | WHERE NOT o.is_control AND o.batch_type = 1 AND o."offset" < l.lso
         |   AND NOT EXISTS (SELECT 1 FROM aborted a
         |     WHERE a.partition = o.partition AND a.pid = o.pid
         |       AND o."offset" BETWEEN a.first AND a.last)
         | GROUP BY 1 ORDER BY 1""".stripMargin,

    "t2_tx_expiry" ->
      s"""$TxnExpiryCte,
         | st AS (
         |  SELECT o.pid, o.txn_seq, CAST(count(DISTINCT o.partition) AS BIGINT) AS n_partitions,
         |         count(*) AS n_records, min(o."offset") AS min_first_offset
         |  FROM ofs2 o WHERE NOT o.is_control AND o.batch_type = 1
         |  GROUP BY 1, 2),
         | ended AS (SELECT DISTINCT pid, txn_seq, decision FROM ofs2 WHERE is_control)
         | SELECT s.pid, s.txn_seq,
         |        CASE WHEN e.decision = 'commit' THEN 'CompleteCommit'
         |             WHEN e.decision = 'abort' THEN 'CompleteAbort'
         |             ELSE 'Ongoing' END AS state,
         |        EXISTS (SELECT 1 FROM exp x WHERE x.pid = s.pid AND x.txn_seq = s.txn_seq) AS expired,
         |        EXISTS (SELECT 1 FROM late l JOIN exp x ON l.pid = x.pid AND l.txn_seq = x.txn_seq
         |                WHERE l.pid = s.pid AND l.txn_seq = s.txn_seq) AS fenced,
         |        s.n_partitions, s.n_records, s.min_first_offset
         | FROM st s LEFT JOIN ended e ON s.pid = e.pid AND s.txn_seq = e.txn_seq
         | ORDER BY 1, 2""".stripMargin,

    "t4_lso_after_expiry" ->
      s"""$TxnExpiryCte,
         | open2 AS (
         |  SELECT o.partition, min(o."offset") AS open_min FROM ofs2 o
         |  WHERE NOT o.is_control AND NOT EXISTS (
         |    SELECT 1 FROM ofs2 m WHERE m.is_control
         |      AND m.partition = o.partition AND m.pid = o.pid AND m.txn_seq = o.txn_seq)
         |  GROUP BY 1),
         | hw AS (SELECT partition, max("offset") + 1 AS hwm FROM ofs2 GROUP BY 1)
         | SELECT h.partition, COALESCE(o.open_min, h.hwm) AS lso
         | FROM hw h LEFT JOIN open2 o ON h.partition = o.partition ORDER BY 1""".stripMargin,

    "t4_last_stable_offset" ->
      s"""$TxnCte,
         | open_tx AS (
         |  SELECT o.partition, min(o."offset") AS open_min FROM ofs o
         |  WHERE NOT o.is_control AND NOT EXISTS (
         |    SELECT 1 FROM ofs m WHERE m.is_control
         |      AND m.partition = o.partition AND m.pid = o.pid AND m.txn_seq = o.txn_seq)
         |  GROUP BY 1),
         | hw AS (SELECT partition, max("offset") + 1 AS hwm FROM ofs GROUP BY 1)
         | SELECT h.partition, COALESCE(o.open_min, h.hwm) AS lso
         | FROM hw h LEFT JOIN open_tx o ON h.partition = o.partition ORDER BY 1""".stripMargin,

    "a3_txn_compaction" ->
      s"""$TxnCte,
         | aborted AS (
         |  SELECT o.partition, o.pid, o.txn_seq, min(o."offset") AS first, max(o."offset") AS last
         |  FROM ofs o
         |  WHERE NOT o.is_control AND EXISTS (
         |    SELECT 1 FROM ofs m WHERE m.is_control AND m.decision = 'abort'
         |      AND m.partition = o.partition AND m.pid = o.pid AND m.txn_seq = o.txn_seq)
         |  GROUP BY 1, 2, 3)
         | SELECT partition, user_id AS key, "offset", event_type FROM (
         |  SELECT o.*, row_number() OVER (PARTITION BY o.partition, o.user_id ORDER BY o."offset" DESC) AS rn
         |  FROM ofs o
         |  WHERE NOT o.is_control AND o.batch_type = 1
         |    AND NOT EXISTS (SELECT 1 FROM aborted a
         |      WHERE a.partition = o.partition AND a.pid = o.pid
         |        AND o."offset" BETWEEN a.first AND a.last))
         | WHERE rn = 1 ORDER BY partition, key""".stripMargin,

    "g3_group_tx" ->
      s"""$TxnCte,
         | committed AS (SELECT DISTINCT pid, txn_seq FROM ofs WHERE is_control AND decision = 'commit')
         | SELECT "group", topic, partition, committed_offset FROM (
         |  SELECT 'g' || CAST(o.user_id % 3 AS VARCHAR) AS "group", 'events' AS topic, o.partition,
         |         o.event_id AS committed_offset,
         |         row_number() OVER (PARTITION BY o.user_id % 3, o.partition ORDER BY o.event_id DESC) AS rn
         |  FROM ofs o JOIN committed c ON o.pid = c.pid AND o.txn_seq = c.txn_seq
         |  WHERE NOT o.is_control AND o.batch_type = 1 AND o.event_type = 'purchase')
         | WHERE rn = 1 ORDER BY "group", partition""".stripMargin,

    // Transactional offsets over the wire. Size laws (tid 4 chars,
    // group "g-wire" 6, member "m-1" 3, topic "events" 6, flexible
    // header 16 / legacy 15 with client "graft", response header 5
    // flexible / 4 legacy):
    //   AddPartitionsToTxn v3 req = 46 + 4*np, resp = 24 + 7*np
    //   AddOffsetsToTxn v1 (legacy) req = 43, resp = 14
    //   TxnOffsetCommit v3 req = 62 + 18*np, resp = 24 + 7*np
    //   EndTxn v3 req = 37, resp = 16
    //   OffsetFetch v7 req = 47, resp = 26 + 20*np
    "g3_wire_txn_offsets" ->
      """SELECT CAST(step AS INTEGER) AS step, api, scope,
        |  CAST(partition AS INTEGER) AS partition,
        |  CAST("offset" AS BIGINT) AS "offset",
        |  CAST(error_code AS INTEGER) AS error_code,
        |  CAST(leg_parts AS INTEGER) AS leg_parts,
        |  CAST(CASE api WHEN 'add_partitions' THEN 46 + 4 * leg_parts
        |                WHEN 'add_offsets' THEN 43
        |                WHEN 'txn_offset_commit' THEN 62 + 18 * leg_parts
        |                WHEN 'offset_fetch' THEN 47
        |                ELSE 37 END AS INTEGER) AS req_bytes,
        |  CAST(CASE api WHEN 'add_partitions' THEN 24 + 7 * leg_parts
        |                WHEN 'add_offsets' THEN 14
        |                WHEN 'txn_offset_commit' THEN 24 + 7 * leg_parts
        |                WHEN 'offset_fetch' THEN 26 + 20 * leg_parts
        |                ELSE 16 END AS INTEGER) AS resp_bytes,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'add_partitions', 'tx-a', 0, -1, 0, 2),
        |  (1, 'add_partitions', 'tx-a', 1, -1, 0, 2),
        |  (2, 'add_partitions', 'tx-z', 0, -1, 49, 2),
        |  (2, 'add_partitions', 'tx-z', 1, -1, 49, 2),
        |  (3, 'add_partitions', 'tx-b', 0, -1, 47, 2),
        |  (3, 'add_partitions', 'tx-b', 1, -1, 47, 2),
        |  (4, 'add_offsets', 'tx-a', -1, -1, 0, -1),
        |  (5, 'add_offsets', 'tx-z', -1, -1, 49, -1),
        |  (6, 'txn_offset_commit', 'tx-a', 0, 100, 0, 2),
        |  (6, 'txn_offset_commit', 'tx-a', 1, 200, 0, 2),
        |  (7, 'txn_offset_commit', 'tx-b', 0, 555, 0, 1),
        |  (8, 'txn_offset_commit', 'tx-a', 0, 150, 47, 1),
        |  (9, 'txn_offset_commit', 'tx-b', 1, 650, 22, 1),
        |  (10, 'end_commit', 'tx-a', -1, -1, 0, -1),
        |  (11, 'end_abort', 'tx-b', -1, -1, 0, -1),
        |  (12, 'offset_fetch', 'g-wire', 0, 100, 0, 2),
        |  (12, 'offset_fetch', 'g-wire', 1, 200, 0, 2))
        | t(step, api, scope, partition, "offset", error_code, leg_parts)
        | ORDER BY step, partition""".stripMargin,

    // Group admin over the wire: list/describe/delete groups +
    // offset_delete, states from the live FSM, store effects pinned by
    // the final fetch view.
    "g2_wire_group_admin" ->
      """SELECT CAST(step AS INTEGER) AS step, api, "group", state,
        |  protocol_type, protocol, topic,
        |  CAST(partition AS INTEGER) AS partition,
        |  CAST("offset" AS BIGINT) AS "offset",
        |  CAST(n_members AS INTEGER) AS n_members,
        |  CAST(error_code AS INTEGER) AS error_code, TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'list', 'g-empty', 'Empty', 'consumer', NULL, NULL, -1, -1, -1, 0),
        |  (1, 'list', 'g-stable', 'Stable', 'consumer', NULL, NULL, -1, -1, -1, 0),
        |  (2, 'list', NULL, NULL, NULL, NULL, NULL, -1, -1, -1, 42),
        |  (3, 'describe', 'g-empty', 'Empty', 'consumer', '', NULL, -1, -1, 0, 0),
        |  (3, 'describe', 'g-ghost', 'Dead', '', '', NULL, -1, -1, 0, 0),
        |  (3, 'describe', 'g-stable', 'Stable', 'consumer', 'range', NULL, -1, -1, 2, 0),
        |  (4, 'delete', 'g-empty', NULL, NULL, NULL, NULL, -1, -1, -1, 0),
        |  (4, 'delete', 'g-ghost', NULL, NULL, NULL, NULL, -1, -1, -1, 69),
        |  (4, 'delete', 'g-stable', NULL, NULL, NULL, NULL, -1, -1, -1, 68),
        |  (5, 'offset_delete', 'g-stable', NULL, NULL, NULL, 'events', 0, -1, -1, 86),
        |  (5, 'offset_delete', 'g-stable', NULL, NULL, NULL, 'other', 0, -1, -1, 0),
        |  (6, 'offset_delete', 'g-nope', NULL, NULL, NULL, NULL, -1, -1, -1, 69),
        |  (7, 'offsets_after', 'g-stable', NULL, NULL, NULL, 'events', 0, 100, -1, 0))
        | t(step, api, "group", state, protocol_type, protocol, topic,
        |   partition, "offset", n_members, error_code)
        | ORDER BY step, "group", topic, partition""".stripMargin,

    "g4_assign_range" ->
      s"""$G4Cte,
         | x AS (SELECT topic, partition, n // 3 AS len, n % 3 AS rem FROM p),
         | a AS (SELECT topic, partition,
         |   CASE WHEN partition < rem * (len + 1) THEN partition // (len + 1)
         |        ELSE rem + (partition - rem * (len + 1)) // greatest(len, 1) END AS idx
         |   FROM x)
         | SELECT a.topic, CAST(a.partition AS BIGINT) AS partition, m.member_id
         | FROM a JOIN m ON m.idx = a.idx ORDER BY topic, partition""".stripMargin,

    "g4_assign_roundrobin" ->
      s"""$G4Cte,
         | r AS (SELECT topic, partition,
         |   (row_number() OVER (ORDER BY topic, partition) - 1) % 3 AS idx FROM p)
         | SELECT r.topic, CAST(r.partition AS BIGINT) AS partition, m.member_id
         | FROM r JOIN m ON m.idx = r.idx ORDER BY topic, partition""".stripMargin,

    "g4_assign_sticky" ->
      s"""$G4Cte,
         | prior(topic, partition, member_id) AS (VALUES
         |   ('t8', 0, 'a'), ('t8', 1, 'a'), ('t8', 2, 'a'),
         |   ('t8', 3, 'b'), ('t8', 4, 'b'), ('t8', 5, 'b'),
         |   ('t8', 6, 'd'), ('t8', 7, 'd'),
         |   ('t7', 0, 'a'), ('t7', 1, 'a'), ('t7', 2, 'b'), ('t7', 3, 'b'),
         |   ('t7', 4, 'd'), ('t7', 5, 'd'), ('t7', 6, 'd'),
         |   ('t1', 0, 'd')),
         | kept AS (SELECT pr.topic, pr.partition, pr.member_id FROM prior pr
         |   JOIN mem ON mem.member_id = pr.member_id
         |   JOIN p ON p.topic = pr.topic AND p.partition = pr.partition),
         | orphans AS (SELECT topic, partition FROM p
         |   EXCEPT SELECT topic, partition FROM kept),
         | tgt AS (SELECT (count(*) + 2) // 3 AS target FROM p),
         | loads AS (SELECT mem.member_id, COALESCE(k.cnt, 0) AS load FROM mem
         |   LEFT JOIN (SELECT member_id, count(*) AS cnt FROM kept GROUP BY 1) k
         |     USING (member_id)),
         | slots AS (SELECT member_id, load,
         |   unnest(range(greatest(target - load, 0))) AS round FROM loads, tgt),
         | rslots AS (SELECT member_id,
         |   row_number() OVER (ORDER BY round, load, member_id) - 1 AS slot FROM slots),
         | ro AS (SELECT topic, partition,
         |   row_number() OVER (ORDER BY topic, partition) - 1 AS slot FROM orphans)
         | SELECT topic, CAST(partition AS BIGINT) AS partition, member_id FROM (
         |  SELECT topic, partition, member_id FROM kept
         |  UNION ALL
         |  SELECT ro.topic, ro.partition, rs.member_id FROM ro JOIN rslots rs USING (slot))
         | ORDER BY topic, partition""".stripMargin,
  )
}
