package graft.entries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.groups.ConsumerGroups
import graft.log.RecordLog

import graft.SparkEntry._

/** Driver-contract entries: P5/P6 ingest validation, schema registry, wire protocol twins, REST/admin protocol scripts.
  *
  * Pure move out of the SparkEntry registry (round 15): the entry and
  * oracle text is byte-identical to its former in-line spelling; the
  * combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object IngestProtoEntries {

  /** Row count AND order-insensitive payload hash of one e2e hop, in ONE
    * aggregate pass — the e2e entries need both, and separate
    * count()/hash() calls would re-execute the hop's whole upstream DAG.
    * The hash is the SUM of a 32-bit md5 prefix over each row's
    * `partition|offset|key|value` spelling. The DuckDB oracle re-derives
    * every hop hash, so a hop that drops, duplicates, rebases, or
    * corrupts ANY cell flips the chain, where a count-only hop check
    * would not. */
  private def hopStats(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(conv(substring(md5(concat_ws("|",
          col("partition").cast("string"), col("offset").cast("string"),
          col("key").cast("string"), col("value").cast("string"))), 1, 8),
        16, 10).cast("long"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The [[hopStats]] hash for a driver-side hop (post-wire-decode tuples). */
  private def hopHashRows(rows: Seq[(Int, Long, String, String)]): Long =
    rows.map { case (p, o, k, v) =>
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p|$o|$k|$v".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    }.sum

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- §2.2 ingest validation (P5/P6) + registry read path -----
    "p5_schema_validation" -> ((s, dir) => {
      // Real wire-format bytes: magic 0x00 + int32 BE schema id + payload;
      // ids 0..7 registered, ids 8-9 rejected (produce.cc:417 semantics).
      val wire = events(s, dir).select(col("event_id"),
        concat(unhex(lit("00")),
          unhex(lpad(hex(pmod(col("user_id"), lit(10))), 8, "0")),
          encode(col("props"), "UTF-8")).as("value"))
      graft.registry.Ingest.validateSchemaIds(wire, col("value"), 0 to 7)
        .groupBy("route", "schema_id").agg(count(lit(1)).as("n"))
        .orderBy("route", "schema_id")
    }),

    "p6_crc_validation" -> ((s, dir) => {
      // Deterministically corrupt every 97th record's stored CRC; the
      // engine recomputes and routes mismatches (kafka_batch_adapter.h:54-75).
      val wire = events(s, dir)
        .select(col("event_id"), encode(col("props"), "UTF-8").as("value"))
        .withColumn("stored_crc",
          crc32(col("value")) + when(pmod(col("event_id"), lit(97)) === 0, 1L).otherwise(0L))
      graft.registry.Ingest.validateCrc(wire, col("value"), col("stored_crc"))
        .groupBy("route").agg(count(lit(1)).as("n"))
        .orderBy("route")
    }),

    "p6_batch_roundtrip" -> ((s, dir) => {
      // §5 protocol-golden leg: the event log packed into Kafka
      // record-batch v2 wire envelopes (61-byte big-endian header,
      // zigzag-varint records, CRC32-C over the region below the crc
      // field — kafka_batch_adapter.h:25-41, .cc:31-128), decoded back,
      // and RE-encoded: bytes and fields must survive both directions
      // and every CRC must verify. The oracle re-derives base_offset /
      // record_count / batch_length / wire_bytes from the raw events —
      // including every zigzag-varint length — and pins the round-trip
      // invariants.
      graft.functions.GraftFunctions.register(s)
      val enc = p6WireBatches(s, dir).select(col("partition"), col("batch_no"),
        col("records"),
        call_function("kafka_batch_encode", p6EncodeStruct).as("wire"))
      enc.withColumn("dec", call_function("kafka_batch_decode", col("wire")))
        .withColumn("wire2", call_function("kafka_batch_encode", struct(
          col("dec.base_offset"), col("dec.partition_leader_epoch"),
          col("dec.attributes"), col("dec.first_timestamp"),
          col("dec.max_timestamp"), col("dec.producer_id"),
          col("dec.producer_epoch"), col("dec.base_sequence"),
          col("dec.records"))))
        .select(col("partition"), col("batch_no"),
          col("dec.base_offset").as("base_offset"),
          col("dec.record_count").as("record_count"),
          col("dec.batch_length").as("batch_length"),
          length(col("wire")).as("wire_bytes"),
          col("dec.magic").as("magic"),
          col("dec.crc_valid").as("crc_valid"),
          (col("dec.last_offset_delta") === col("dec.record_count") - 1)
            .as("dense_delta"),
          (md5(col("wire")) === md5(col("wire2"))).as("bytes_match"),
          (col("dec.records") === col("records")).as("fields_match"))
        .orderBy("partition", "batch_no")
    }),

    "p6_batch_compressed" -> ((s, dir) => {
      // Compressed wire envelopes (model/compression.h:36-48 numbering,
      // storage/parser_utils.cc:50-66 body-only decompression): the
      // same batches encoded under every codec — none/gzip/snappy
      // (xerial framing)/lz4 (frame)/zstd — must decode to identical
      // records with a valid CRC, carry the codec in attribute bits
      // 0-2, and (for real codecs) shrink the total wire bytes.
      // Two of eight partitions: the contract is per-batch, so a
      // hundred-batch sample certifies it; the full-coverage byte
      // round-trip is p6_batch_roundtrip's job.
      graft.functions.GraftFunctions.register(s)
      val names = Seq("0_none", "1_gzip", "2_snappy", "3_lz4", "4_zstd")
      val wires = p6WireBatches(s, dir, maxPartitions = 2)
        .select(col("partition"), col("records"),
          explode(array((0 to 4).map(c => struct(
            lit(names(c)).as("codec"), lit(c).as("codec_id"),
            call_function("kafka_batch_encode", p6EncodeStruct, lit(c))
              .as("wire"))): _*)).as("e"))
        .select(col("partition"), col("records"), col("e.codec").as("codec"),
          col("e.codec_id").as("codec_id"), col("e.wire").as("wire"))
        .withColumn("dec", call_function("kafka_batch_decode", col("wire")))
      val perCodec = wires.groupBy("codec", "codec_id")
        .agg(count(lit(1)).cast("long").as("n_batches"),
          bool_and(col("dec.crc_valid")).as("crc_ok"),
          bool_and(col("dec.records") === col("records")).as("records_match"),
          bool_and(pmod(col("dec.attributes"), lit(8)) === col("codec_id"))
            .as("attr_ok"),
          sum(length(col("wire")).cast("long")).as("wire_bytes"))
      val plainBytes = perCodec.where(col("codec_id") === 0)
        .select(col("wire_bytes").as("plain_bytes"))
      perCodec.crossJoin(broadcast(plainBytes))
        .select(col("codec"), col("n_batches"), col("crc_ok"),
          col("records_match"), col("attr_ok"),
          (col("wire_bytes") < col("plain_bytes")).as("smaller"))
        .orderBy("codec")
    }),

    "p6_batch_normalize" -> ((s, dir) => {
      // The storage-side decompress-normalize + threshold-gated
      // recompress passes (storage/parser_utils.cc:50-66 decompress,
      // clear bits FIRST, reset size+CRC; :68-86 compress only batches
      // >= threshold, set bits BEFORE the reset). Pinned golden:
      // normalize(encode(codec)) is BYTE-IDENTICAL to the plain
      // encode; recompress at threshold 0 stamps every batch's
      // attribute bits and still decodes to the same records;
      // recompress at a never-reached threshold is a byte-identical
      // pass-through.
      graft.functions.GraftFunctions.register(s)
      val names = Seq("1_gzip", "2_snappy", "3_lz4", "4_zstd")
      p6WireBatches(s, dir, maxPartitions = 2)
        .select(col("partition"), col("records"),
          call_function("kafka_batch_encode", p6EncodeStruct).as("plain"),
          explode(array((1 to 4).map(c => struct(
            lit(names(c - 1)).as("codec"), lit(c).as("codec_id"),
            call_function("kafka_batch_encode", p6EncodeStruct, lit(c))
              .as("wire"))): _*)).as("e"))
        .select(col("records"), col("plain"), col("e.codec").as("codec"),
          col("e.codec_id").as("codec_id"), col("e.wire").as("wire"))
        .withColumn("norm", call_function("kafka_batch_normalize", col("wire")))
        .withColumn("rec_all", call_function("kafka_batch_recompress",
          col("plain"), col("codec_id"), lit(0)))
        .withColumn("rec_none", call_function("kafka_batch_recompress",
          col("plain"), col("codec_id"), lit(Int.MaxValue)))
        .withColumn("rec_dec", call_function("kafka_batch_decode", col("rec_all")))
        .groupBy("codec")
        .agg(count(lit(1)).cast("long").as("n_batches"),
          bool_and(col("norm") === col("plain")).as("norm_eq_plain"),
          bool_and(pmod(col("rec_dec.attributes"), lit(8)) === col("codec_id"))
            .as("recompress_bits"),
          bool_and(col("rec_dec.crc_valid") &&
            col("rec_dec.records") === col("records")).as("recompress_records"),
          bool_and(col("rec_none") === col("plain")).as("passthrough"))
        .orderBy("codec")
    }),

    "p6_wire_versions" -> ((s, dir) => {
      // The big-five version MATRIX (handlers.h:71-112 ranges; per-field
      // gates from the schemata): a fixed fixture request per family is
      // encoded at EVERY declared version, decoded back from the bytes,
      // and summarized — req_bytes pins each version's exact layout and
      // the detail pins which fields exist (absent ones surface as the
      // schema defaults, exactly what the handler would see from an old
      // client). Produce 0-8, Fetch 0-11, ListOffsets 0-5, OffsetCommit
      // 0-8 (flexible 8+), JoinGroup 0-6 (flexible 6+).
      import s.implicits._
      import graft.functions.{WireHeaders => WH, WireVersions => WV}
      val recs = Array.tabulate(120)(_.toByte)
      val produceReq = WH.Produce.Request(Some("txn-1"), -1, 30000,
        Seq(("events", Seq((0, Some(recs)), (1, None)))))
      val fetchReq = WV.FetchV.Request(-1, 500, 1, 52428800, 1, 77, 3,
        Seq(("events", Seq(WV.FetchV.Part(0, 5, 42L, 7L, 1048576),
          WV.FetchV.Part(1, 5, 100L, 7L, 1048576)))),
        Seq(("stale", Seq(0, 1))), "rack-1")
      val listReq = WV.ListOffsetsV.Request(-1, 1, Seq(("events", Seq(
        WV.ListOffsetsV.Part(0, 5, -1L, 1), WV.ListOffsetsV.Part(1, 5, -2L, 1)))))
      val commitReq = WV.OffsetCommitV.Request("cg", 7, "m-1", Some("inst-1"),
        86400000L, Seq(("events", Seq(
          WV.OffsetCommitV.Part(0, 42L, 5, 1700000000000L, Some("m")),
          WV.OffsetCommitV.Part(1, 43L, 5, 1700000000000L, None)))))
      val joinReq = WH.JoinGroup.Request("cg", 30000, 60000, "",
        Some("inst-1"), "consumer",
        Seq(WH.JoinGroup.Protocol("range", Array.tabulate(10)(_.toByte)),
          WH.JoinGroup.Protocol("sticky", Array.tabulate(6)(_.toByte))))
      val rows =
        WV.ProduceV.ValidVersions.map { v =>
          val bytes = WV.ProduceV.encode(v, produceReq)
          val r = WV.ProduceV.decode(v, bytes)
          ("produce", v, bytes.length,
            s"tid=${r.transactionalId.getOrElse("")}|recs=${
              r.topics.head._2.head._2.get.length}")
        } ++ WV.FetchV.ValidVersions.map { v =>
          val bytes = WV.FetchV.encode(v, fetchReq)
          val r = WV.FetchV.decode(v, bytes)
          val p0 = r.topics.head._2.head
          ("fetch", v, bytes.length,
            s"max=${r.maxBytes}|iso=${r.isolationLevel}|session=${r.sessionId}:${
              r.sessionEpoch}|epoch=${p0.currentLeaderEpoch}|lso=${
              p0.logStartOffset}|forgot=${r.forgotten.size}|rack=${r.rackId}")
        } ++ WV.ListOffsetsV.ValidVersions.map { v =>
          val bytes = WV.ListOffsetsV.encode(v, listReq)
          val r = WV.ListOffsetsV.decode(v, bytes)
          val p0 = r.topics.head._2.head
          ("list_offsets", v, bytes.length,
            s"iso=${r.isolationLevel}|epoch=${p0.currentLeaderEpoch}|maxnum=${
              p0.maxNumOffsets}")
        } ++ WV.OffsetCommitV.ValidVersions.map { v =>
          val bytes = WV.OffsetCommitV.encode(v, commitReq)
          val r = WV.OffsetCommitV.decode(v, bytes)
          val p0 = r.topics.head._2.head
          ("offset_commit", v, bytes.length,
            s"gen=${r.generationId}|member=${r.memberId}|inst=${
              r.groupInstanceId.getOrElse("")}|ret=${r.retentionTimeMs}|epoch=${
              p0.committedLeaderEpoch}|ts=${p0.commitTimestamp}")
        } ++ WV.JoinGroupV.ValidVersions.map { v =>
          val bytes = WV.JoinGroupV.encode(v, joinReq)
          val r = WV.JoinGroupV.decode(v, bytes)
          ("join_group", v, bytes.length,
            s"rebalance=${r.rebalanceTimeoutMs}|inst=${
              r.groupInstanceId.getOrElse("")}|protos=${r.protocols.size}")
        } ++ {
          // RESPONSE side of the matrix, same discipline
          val pResp = WH.Produce.Response(Seq(("events", Seq(
            WH.Produce.RespPart(0, 0, 42L, 1700000000000L, 7L,
              Seq((2, Some("bad"))), Some("oops"))))), 5)
          val fResp = WV.FetchRespV.Response(5, 0, 77, Seq(("events", Seq(
            WV.FetchRespV.Part(0, 0, 100L, 90L, 3L, Some(Seq((9L, 50L))), 2,
              Some(Array.tabulate(64)(_.toByte)))))))
          val lResp = WV.ListOffsetsRespV.Response(5, Seq(("events", Seq(
            WV.ListOffsetsRespV.Part(0, 0, Seq(10L, 20L), 1700000000000L, 42L, 3)))))
          val cResp = WV.OffsetCommitRespV.Response(5,
            Seq(("events", Seq((0, 0.toShort), (1, 16.toShort)))))
          val jResp = WH.JoinGroup.Response(5, 0, 3, "range", "m-1", "m-2",
            Seq(WH.JoinGroup.Member("m-1", Some("inst-1"),
              Array.tabulate(8)(_.toByte))))
          WV.ProduceRespV.ValidVersions.map { v =>
            val bytes = WV.ProduceRespV.encode(v, pResp)
            val r = WV.ProduceRespV.decode(v, bytes)
            val p = r.responses.head._2.head
            ("produce_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|lat=${p.logAppendTimeMs}|lso=${
                p.logStartOffset}|recerrs=${p.recordErrors.size}|msg=${
                p.errorMessage.getOrElse("")}")
          } ++ WV.FetchRespV.ValidVersions.map { v =>
            val bytes = WV.FetchRespV.encode(v, fResp)
            val r = WV.FetchRespV.decode(v, bytes)
            val p = r.topics.head._2.head
            ("fetch_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|session=${r.sessionId}|lso=${
                p.lastStableOffset}|logstart=${p.logStartOffset}|aborted=${
                p.aborted.map(_.size).getOrElse(-1)}|replica=${
                p.preferredReadReplica}|recs=${p.records.get.length}")
          } ++ WV.ListOffsetsRespV.ValidVersions.map { v =>
            val bytes = WV.ListOffsetsRespV.encode(v, lResp)
            val r = WV.ListOffsetsRespV.decode(v, bytes)
            val p = r.topics.head._2.head
            ("list_offsets_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|old=${p.oldStyleOffsets.size}|off=${
                p.offset}|epoch=${p.leaderEpoch}")
          } ++ WV.OffsetCommitRespV.ValidVersions.map { v =>
            val bytes = WV.OffsetCommitRespV.encode(v, cResp)
            val r = WV.OffsetCommitRespV.decode(v, bytes)
            ("offset_commit_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|errs=${
                r.topics.head._2.map(_._2).mkString(",")}")
          } ++ WV.JoinGroupRespV.ValidVersions.map { v =>
            val bytes = WV.JoinGroupRespV.encode(v, jResp)
            val r = WV.JoinGroupRespV.decode(v, bytes)
            ("join_group_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|gen=${r.generationId}|proto=${
                r.protocolName}|inst=${
                r.members.head.groupInstanceId.getOrElse("")}")
          } ++ {
            val mReq = WV.MetadataV.Request(Some(Seq("events", "audit")),
              allowAutoTopicCreation = false,
              includeClusterAuthorizedOperations = true,
              includeTopicAuthorizedOperations = true)
            val mResp = WV.MetadataRespV.Response(5,
              Seq((0, "host-a", 9092, Some("r0")), (1, "host-b", 9092, None)),
              Some("cluster-1"), 0,
              Seq(WV.MetadataRespV.Topic(0, "events", isInternal = false,
                Seq(WV.MetadataRespV.Part(0, 0, 0, 3, Seq(0, 1), Seq(0, 1),
                  Seq(2))), authorizedOps = 1020)),
              clusterAuthorizedOps = 2044)
            WV.MetadataV.ValidVersions.map { v =>
              val bytes = WV.MetadataV.encode(v, mReq)
              val r = WV.MetadataV.decode(v, bytes)
              ("metadata", v, bytes.length,
                s"topics=${r.topics.map(_.size).getOrElse(-1)}|auto=${
                  r.allowAutoTopicCreation}|ops=${
                  r.includeClusterAuthorizedOperations}")
            } ++ WV.MetadataRespV.ValidVersions.map { v =>
              val bytes = WV.MetadataRespV.encode(v, mResp)
              val r = WV.MetadataRespV.decode(v, bytes)
              val p = r.topics.head.partitions.head
              ("metadata_resp", v, bytes.length,
                s"throttle=${r.throttleMs}|rack=${
                  r.brokers.head._4.getOrElse("")}|cluster=${
                  r.clusterId.getOrElse("")}|epoch=${p.leaderEpoch}|offline=${
                  p.offline.size}|ops=${r.clusterAuthorizedOps}")
            }
          }
        } ++ {
          // Tier-2 keys (the next most-used handler ranges): OffsetFetch
          // 0-8 (flexible 6+, KIP-709 batching at 8), FindCoordinator
          // 0-4 (flexible 3+, KIP-699 batching at 4), SyncGroup 0-5,
          // Heartbeat 0-4, LeaveGroup 0-5 (all flexible 4+), ApiVersions
          // request 0-3 (KIP-511 at 3) — requests AND responses.
          val ofReq = WV.OffsetFetchV.Request(
            Seq(WV.OffsetFetchV.Group("cg", Some(Seq(("events", Seq(0, 1)))))),
            requireStable = true)
          val ofResp = WV.OffsetFetchRespV.Response(5,
            Seq(WV.OffsetFetchRespV.Group("cg", Seq(("events", Seq(
              WV.OffsetFetchRespV.Part(0, 42L, 3, Some("m"), 0)))), 0)))
          val fcReq = WV.FindCoordinatorV.Request(1, Seq("cg"))
          val fcResp = WV.FindCoordinatorRespV.Response(5, Seq(
            WV.FindCoordinatorRespV.Coord("cg", 2, "host-a", 9092, 0, Some("ok"))))
          val sgReq = WV.SyncGroupV.Request("cg", 7, "m-1", Some("inst-1"),
            Some("consumer"), Some("range"),
            Seq(("m-1", Array.tabulate(8)(_.toByte))))
          val sgResp = WV.SyncGroupRespV.Response(5, 0, Some("consumer"),
            Some("range"), Array.tabulate(8)(_.toByte))
          val hbReq = WV.HeartbeatV.Request("cg", 7, "m-1", Some("inst-1"))
          val lgReq = WV.LeaveGroupV.Request("cg", Seq(
            WV.LeaveGroupV.Member("m-1", Some("inst-1"), Some("bye"))))
          val lgResp = WV.LeaveGroupRespV.Response(5, 0, Seq(
            WV.LeaveGroupRespV.MemberResp("m-1", Some("inst-1"), 0)))
          val avReq = WV.ApiVersionsReqV.Request("rpk", "v25.1")
          WV.OffsetFetchV.ValidVersions.map { v =>
            val bytes = WV.OffsetFetchV.encode(v, ofReq)
            val r = WV.OffsetFetchV.decode(v, bytes)
            ("offset_fetch", v, bytes.length,
              s"stable=${r.requireStable}|groups=${r.groups.size}|parts=${
                r.groups.head.topics.map(_.head._2.size).getOrElse(-1)}")
          } ++ WV.OffsetFetchRespV.ValidVersions.map { v =>
            val bytes = WV.OffsetFetchRespV.encode(v, ofResp)
            val r = WV.OffsetFetchRespV.decode(v, bytes)
            val p = r.groups.head.topics.head._2.head
            ("offset_fetch_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|epoch=${p.committedLeaderEpoch}|gid=${
                r.groups.head.groupId}")
          } ++ WV.FindCoordinatorV.ValidVersions.map { v =>
            val bytes = WV.FindCoordinatorV.encode(v, fcReq)
            val r = WV.FindCoordinatorV.decode(v, bytes)
            ("find_coordinator", v, bytes.length,
              s"type=${r.keyType}|keys=${r.keys.mkString("+")}")
          } ++ WV.FindCoordinatorRespV.ValidVersions.map { v =>
            val bytes = WV.FindCoordinatorRespV.encode(v, fcResp)
            val r = WV.FindCoordinatorRespV.decode(v, bytes)
            val c = r.coordinators.head
            ("find_coordinator_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|key=${c.key}|node=${c.nodeId}|msg=${
                c.errorMessage.getOrElse("")}")
          } ++ WV.SyncGroupV.ValidVersions.map { v =>
            val bytes = WV.SyncGroupV.encode(v, sgReq)
            val r = WV.SyncGroupV.decode(v, bytes)
            ("sync_group", v, bytes.length,
              s"inst=${r.groupInstanceId.getOrElse("")}|proto=${
                r.protocolName.getOrElse("")}|assigns=${r.assignments.size}")
          } ++ WV.SyncGroupRespV.ValidVersions.map { v =>
            val bytes = WV.SyncGroupRespV.encode(v, sgResp)
            val r = WV.SyncGroupRespV.decode(v, bytes)
            ("sync_group_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|proto=${
                r.protocolName.getOrElse("")}|asg=${r.assignment.length}")
          } ++ WV.HeartbeatV.ValidVersions.map { v =>
            val bytes = WV.HeartbeatV.encode(v, hbReq)
            val r = WV.HeartbeatV.decode(v, bytes)
            ("heartbeat", v, bytes.length,
              s"gen=${r.generationId}|inst=${r.groupInstanceId.getOrElse("")}")
          } ++ WV.LeaveGroupV.ValidVersions.map { v =>
            val bytes = WV.LeaveGroupV.encode(v, lgReq)
            val r = WV.LeaveGroupV.decode(v, bytes)
            val mem = r.members.head
            ("leave_group", v, bytes.length,
              s"inst=${mem.groupInstanceId.getOrElse("")}|reason=${
                mem.reason.getOrElse("")}|members=${r.members.size}")
          } ++ WV.LeaveGroupRespV.ValidVersions.map { v =>
            val bytes = WV.LeaveGroupRespV.encode(v, lgResp)
            val r = WV.LeaveGroupRespV.decode(v, bytes)
            ("leave_group_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|members=${r.members.size}")
          } ++ WV.ApiVersionsReqV.ValidVersions.map { v =>
            val bytes = WV.ApiVersionsReqV.encode(v, avReq)
            val r = WV.ApiVersionsReqV.decode(v, bytes)
            ("api_versions", v, bytes.length,
              s"name=${r.clientSoftwareName}|ver=${r.clientSoftwareVersion}")
          }
        } ++ {
          // Tier-3: the TRANSACTION family full ranges (InitProducerId
          // 0-5 KIP-360 at 3, AddPartitionsToTxn 0-5 KIP-890 batched
          // at 4, AddOffsetsToTxn/EndTxn/TxnOffsetCommit 0-4 KIP-447
          // at 3) + DeleteRecords 0-2 + SASL Handshake 0-1 /
          // Authenticate 0-2 — requests AND responses.
          val ipReq = WH.InitProducerId.Request(Some("txn-1"), 60000, 9L, 1)
          val ipResp = WH.InitProducerId.Response(5, 0, 9L, 1)
          val apTxn = WV.AddPartitionsToTxnV.Txn("txn-1", 9L, 1,
            verifyOnly = true, Seq(("events", Seq(0, 1))))
          val apReq = WV.AddPartitionsToTxnV.Request(Seq(apTxn))
          val apResp = WV.AddPartitionsToTxnV.Response(5, 0, Seq(
            WV.AddPartitionsToTxnV.RespTxn("txn-1",
              Seq(("events", Seq((0, 0.toShort), (1, 16.toShort)))))))
          val aoReq = WH.AddOffsetsToTxn.Request("txn-1", 9L, 1, "cg")
          val etReq = WH.EndTxn.Request("txn-1", 9L, 1, committed = true)
          val etResp = WH.EndTxn.Response(5, 0)
          val tocReq = WV.TxnOffsetCommitV.Request("txn-1", "cg", 9L, 1, 7,
            "m-1", Some("inst-1"), Seq(("events",
              Seq(WV.TxnOffsetCommitV.Part(0, 42L, 5, Some("m"))))))
          val tocResp = WV.TxnOffsetCommitV.Response(5,
            Seq(("events", Seq((0, 0.toShort)))))
          val drReq = WV.DeleteRecordsV.Request(
            Seq(("events", Seq((0, 42L), (1, 7L)))), 30000)
          val drResp = WV.DeleteRecordsV.Response(5,
            Seq(("events", Seq((0, 10L, 0.toShort)))))
          val saResp = WV.SaslAuthenticateV.Response(0, Some("ok"),
            Array.tabulate(8)(_.toByte), 3600000L)
          WV.InitProducerIdV.ValidVersions.map { v =>
            val bytes = WV.InitProducerIdV.encode(v, ipReq)
            val r = WV.InitProducerIdV.decode(v, bytes)
            ("init_producer_id", v, bytes.length,
              s"tid=${r.transactionalId.getOrElse("")}|pid=${r.producerId}" +
                s"|epoch=${r.producerEpoch}")
          } ++ WV.InitProducerIdV.ValidVersions.map { v =>
            val bytes = WV.InitProducerIdV.encodeResp(v, ipResp)
            val r = WV.InitProducerIdV.decodeResp(v, bytes)
            ("init_producer_id_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|pid=${r.producerId}")
          } ++ WV.AddPartitionsToTxnV.ValidVersions.map { v =>
            val bytes = WV.AddPartitionsToTxnV.encode(v, apReq)
            val r = WV.AddPartitionsToTxnV.decode(v, bytes)
            val t = r.transactions.head
            ("add_partitions_txn", v, bytes.length,
              s"tid=${t.transactionalId}|verify=${t.verifyOnly}|parts=${
                t.topics.head._2.size}")
          } ++ WV.AddPartitionsToTxnV.ValidVersions.map { v =>
            val bytes = WV.AddPartitionsToTxnV.encodeResp(v, apResp)
            val r = WV.AddPartitionsToTxnV.decodeResp(v, bytes)
            ("add_partitions_txn_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|tid=${
                r.transactions.head.transactionalId}|errs=${
                r.transactions.head.results.head._2.map(_._2).mkString(",")}")
          } ++ WV.AddOffsetsToTxnV.ValidVersions.map { v =>
            val bytes = WV.AddOffsetsToTxnV.encode(v, aoReq)
            val r = WV.AddOffsetsToTxnV.decode(v, bytes)
            ("add_offsets_txn", v, bytes.length,
              s"tid=${r.transactionalId}|group=${r.groupId}")
          } ++ WV.EndTxnV.ValidVersions.map { v =>
            val bytes = WV.EndTxnV.encode(v, etReq)
            val r = WV.EndTxnV.decode(v, bytes)
            ("end_txn", v, bytes.length,
              s"tid=${r.transactionalId}|committed=${r.committed}")
          } ++ WV.EndTxnV.ValidVersions.map { v =>
            val bytes = WV.EndTxnV.encodeResp(v, etResp)
            val r = WV.EndTxnV.decodeResp(v, bytes)
            ("end_txn_resp", v, bytes.length, s"throttle=${r.throttleMs}")
          } ++ WV.TxnOffsetCommitV.ValidVersions.map { v =>
            val bytes = WV.TxnOffsetCommitV.encode(v, tocReq)
            val r = WV.TxnOffsetCommitV.decode(v, bytes)
            val p = r.topics.head._2.head
            ("txn_offset_commit", v, bytes.length,
              s"gen=${r.generationId}|member=${r.memberId}|inst=${
                r.groupInstanceId.getOrElse("")}|epoch=${p.leaderEpoch}")
          } ++ WV.TxnOffsetCommitV.ValidVersions.map { v =>
            val bytes = WV.TxnOffsetCommitV.encodeResp(v, tocResp)
            val r = WV.TxnOffsetCommitV.decodeResp(v, bytes)
            ("txn_offset_commit_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|errs=${
                r.topics.head._2.map(_._2).mkString(",")}")
          } ++ WV.DeleteRecordsV.ValidVersions.map { v =>
            val bytes = WV.DeleteRecordsV.encode(v, drReq)
            val r = WV.DeleteRecordsV.decode(v, bytes)
            ("delete_records", v, bytes.length,
              s"timeout=${r.timeoutMs}|parts=${r.topics.head._2.size}")
          } ++ WV.DeleteRecordsV.ValidVersions.map { v =>
            val bytes = WV.DeleteRecordsV.encodeResp(v, drResp)
            val r = WV.DeleteRecordsV.decodeResp(v, bytes)
            ("delete_records_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|lwm=${r.topics.head._2.head._2}")
          } ++ WV.SaslHandshakeV.ValidVersions.map { v =>
            val bytes = WV.SaslHandshakeV.encode(v, "SCRAM-SHA-256")
            ("sasl_handshake", v, bytes.length,
              s"mech=${WV.SaslHandshakeV.decode(v, bytes)}")
          } ++ WV.SaslHandshakeV.ValidVersions.map { v =>
            val bytes = WV.SaslHandshakeV.encodeResp(v, 0,
              Seq("PLAIN", "SCRAM-SHA-256"))
            val (ec, ms) = WV.SaslHandshakeV.decodeResp(v, bytes)
            ("sasl_handshake_resp", v, bytes.length, s"err=$ec|mechs=${ms.size}")
          } ++ WV.SaslAuthenticateV.ValidVersions.map { v =>
            val auth = Array.tabulate(16)(_.toByte)
            val bytes = WV.SaslAuthenticateV.encode(v, auth)
            ("sasl_authenticate", v, bytes.length,
              s"auth=${WV.SaslAuthenticateV.decode(v, bytes).length}")
          } ++ WV.SaslAuthenticateV.ValidVersions.map { v =>
            val bytes = WV.SaslAuthenticateV.encodeResp(v, saResp)
            val r = WV.SaslAuthenticateV.decodeResp(v, bytes)
            ("sasl_authenticate_resp", v, bytes.length,
              s"msg=${r.errorMessage.getOrElse("")}|lifetime=${r.sessionLifetimeMs}")
          }
        } ++ {
          // Tier-4: topic lifecycle + group admin full ranges
          // (CreateTopics 0-7 topic_id at 7 / config report at 5,
          // DeleteTopics 0-6 KIP-516 states at 6, CreatePartitions 0-3,
          // DescribeGroups 0-5, ListGroups 0-4 states filter at 4,
          // DeleteGroups 0-2) — requests AND responses.
          val uuid = Array.tabulate(16)(_.toByte)
          val ctReq = WH.CreateTopics.Request(Seq(
            WH.CreateTopics.ReqTopic("events", 8, 3,
              Seq(("retention.ms", Some("604800000"))))), 30000,
            validateOnly = true)
          val ctResp = WH.CreateTopics.Response(5, Seq(
            WH.CreateTopics.RespTopic("events", uuid, 0, Some("ok"), 7,
              8, 3, Some(Seq(("retention.ms", Some("604800000")))))))
          val dtReq = WH.DeleteTopics.Request(Seq(
            WH.DeleteTopics.ReqTopic(Some("events"), uuid)), 30000)
          val dtResp = WH.DeleteTopics.Response(5, Seq(
            WH.DeleteTopics.Result(Some("events"), uuid, 0, Some("gone"))))
          val cpReq = WH.CreatePartitions.Request(Seq(
            WH.CreatePartitions.ReqTopic("events", 16, Some(Seq(Seq(0, 1))))),
            30000, validateOnly = false)
          val cpResp = WH.CreatePartitions.Response(5, Seq(
            WH.CreatePartitions.Result("events", 0, None)))
          val dgReq = WH.DescribeGroups.Request(Seq("cg"),
            includeAuthorizedOperations = true)
          val dgResp = WH.DescribeGroups.Response(5, Seq(
            WH.DescribeGroups.Group(0, "cg", "Stable", "consumer", "range",
              Seq(WH.DescribeGroups.Member("m-1", Some("inst-1"), "cli",
                "host-a", Array.tabulate(8)(_.toByte),
                Array.tabulate(4)(_.toByte))), 1020)))
          val lgReq2 = WH.ListGroups.Request(Seq("Stable"))
          val lgResp2 = WH.ListGroups.Response(5, 0, Seq(
            WH.ListGroups.Group("cg", "consumer", "Stable")))
          WV.CreateTopicsV.ValidVersions.map { v =>
            val bytes = WV.CreateTopicsV.encode(v, ctReq)
            val r = WV.CreateTopicsV.decode(v, bytes)
            ("create_topics", v, bytes.length,
              s"name=${r.topics.head.name}|cfgs=${r.topics.head.configs.size}" +
                s"|validate=${r.validateOnly}")
          } ++ WV.CreateTopicsV.ValidVersions.map { v =>
            val bytes = WV.CreateTopicsV.encodeResp(v, ctResp)
            val r = WV.CreateTopicsV.decodeResp(v, bytes)
            val t = r.topics.head
            ("create_topics_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|msg=${t.errorMessage.getOrElse("")}" +
                s"|np=${t.numPartitions}|cfgerr=${t.topicConfigErrorCode}" +
                s"|uuid=${t.topicId.exists(_ != 0)}")
          } ++ WV.DeleteTopicsV.ValidVersions.map { v =>
            val bytes = WV.DeleteTopicsV.encode(v, dtReq)
            val r = WV.DeleteTopicsV.decode(v, bytes)
            ("delete_topics", v, bytes.length,
              s"name=${r.topics.head.name.getOrElse("")}|uuid=${
                r.topics.head.topicId.exists(_ != 0)}")
          } ++ WV.DeleteTopicsV.ValidVersions.map { v =>
            val bytes = WV.DeleteTopicsV.encodeResp(v, dtResp)
            val r = WV.DeleteTopicsV.decodeResp(v, bytes)
            ("delete_topics_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|msg=${
                r.responses.head.errorMessage.getOrElse("")}")
          } ++ WV.CreatePartitionsV.ValidVersions.map { v =>
            val bytes = WV.CreatePartitionsV.encode(v, cpReq)
            val r = WV.CreatePartitionsV.decode(v, bytes)
            ("create_partitions", v, bytes.length,
              s"count=${r.topics.head.count}|assigns=${
                r.topics.head.assignments.map(_.size).getOrElse(-1)}")
          } ++ WV.CreatePartitionsV.ValidVersions.map { v =>
            val bytes = WV.CreatePartitionsV.encodeResp(v, cpResp)
            val r = WV.CreatePartitionsV.decodeResp(v, bytes)
            ("create_partitions_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|err=${r.results.head.errorCode}")
          } ++ WV.DescribeGroupsV.ValidVersions.map { v =>
            val bytes = WV.DescribeGroupsV.encode(v, dgReq)
            val r = WV.DescribeGroupsV.decode(v, bytes)
            ("describe_groups", v, bytes.length,
              s"groups=${r.groups.mkString(",")}|ops=${
                r.includeAuthorizedOperations}")
          } ++ WV.DescribeGroupsV.ValidVersions.map { v =>
            val bytes = WV.DescribeGroupsV.encodeResp(v, dgResp)
            val r = WV.DescribeGroupsV.decodeResp(v, bytes)
            val g = r.groups.head
            ("describe_groups_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|inst=${
                g.members.head.groupInstanceId.getOrElse("")}|ops=${
                g.authorizedOperations}")
          } ++ WV.ListGroupsV.ValidVersions.map { v =>
            val bytes = WV.ListGroupsV.encode(v, lgReq2)
            val r = WV.ListGroupsV.decode(v, bytes)
            ("list_groups", v, bytes.length,
              s"states=${r.statesFilter.mkString(",")}")
          } ++ WV.ListGroupsV.ValidVersions.map { v =>
            val bytes = WV.ListGroupsV.encodeResp(v, lgResp2)
            val r = WV.ListGroupsV.decodeResp(v, bytes)
            ("list_groups_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|state=${r.groups.head.groupState}")
          } ++ WV.DeleteGroupsV.ValidVersions.map { v =>
            val bytes = WV.DeleteGroupsV.encode(v, Seq("cg1", "cg2"))
            val r = WV.DeleteGroupsV.decode(v, bytes)
            ("delete_groups", v, bytes.length, s"groups=${r.mkString(",")}")
          } ++ WV.DeleteGroupsV.ValidVersions.map { v =>
            val bytes = WV.DeleteGroupsV.encodeResp(v, 5,
              Seq(("cg1", 0.toShort), ("cg2", 16.toShort)))
            val (throttle, rs) = WV.DeleteGroupsV.decodeResp(v, bytes)
            ("delete_groups_resp", v, bytes.length,
              s"throttle=$throttle|errs=${rs.map(_._2).mkString(",")}")
          }
        } ++ {
          // Tier-5: configs + ACLs + leader-epoch full ranges
          // (OffsetForLeaderEpoch 0-4, DescribeConfigs 0-4, AlterConfigs
          // 0-2, IncrementalAlterConfigs 0-1, ACL trio 0-3).
          val oleReq = WH.OffsetForLeaderEpoch.Request(-2, Seq(("events",
            Seq(WH.OffsetForLeaderEpoch.ReqPartition(0, 5, 3)))))
          val oleResp = WH.OffsetForLeaderEpoch.Response(5, Seq(("events",
            Seq(WH.OffsetForLeaderEpoch.RespPartition(0, 0, 5, 42L)))))
          val dcReq = WH.DescribeConfigs.Request(Seq(
            WH.DescribeConfigs.ReqResource(2, "events",
              Some(Seq("retention.ms")))), includeSynonyms = true,
            includeDocumentation = true)
          val dcResp = WH.DescribeConfigs.Response(5, Seq(
            WH.DescribeConfigs.Result(0, None, 2, "events", Seq(
              WH.DescribeConfigs.Config("retention.ms", Some("604800000"),
                readOnly = false, configSource = 5, isSensitive = false,
                configType = 5, Some("docs"))))))
          val acReq = WH.AlterConfigs.Request(Seq(
            WH.AlterConfigs.ReqResource(2, "events",
              Seq(("retention.ms", Some("604800000"))))), validateOnly = true)
          val acResp = WH.AlterConfigs.Response(5, Seq(
            WH.AlterConfigs.RespResource(0, None, 2, "events")))
          val iaReq = WH.IncrementalAlterConfigs.Request(Seq(
            WH.IncrementalAlterConfigs.ReqResource(2, "events", Seq(
              WH.IncrementalAlterConfigs.ReqConfig("retention.ms", 0,
                Some("604800000"))))), validateOnly = false)
          val daReq = WH.DescribeAcls.Request(2, Some("events"), 3,
            Some("User:alice"), None, 3, 3)
          val daResp = WH.DescribeAcls.Response(5, 0, None, Seq(
            WH.DescribeAcls.Resource(2, "events", 3, Seq(
              WH.DescribeAcls.RespAcl("User:alice", "*", 3, 3)))))
          val caReq = WH.CreateAcls.Request(Seq(
            WH.CreateAcls.Acl(2, "events", 3, "User:alice", "*", 3, 3)))
          val caResp = WH.CreateAcls.Response(5, Seq((0.toShort, None)))
          val delReq = WH.DeleteAcls.Request(Seq(
            WH.DeleteAcls.Filter(2, Some("events"), 3, None, None, 3, 3)))
          val delResp = WH.DeleteAcls.Response(5, Seq(
            WH.DeleteAcls.FilterResult(0, None, Seq(
              WH.DeleteAcls.MatchingAcl(0, None, 2, "events", 3,
                "User:alice", "*", 3, 3)))))
          WV.OffsetForLeaderEpochV.ValidVersions.map { v =>
            val bytes = WV.OffsetForLeaderEpochV.encode(v, oleReq)
            val r = WV.OffsetForLeaderEpochV.decode(v, bytes)
            val p = r.topics.head._2.head
            ("offset_for_leader_epoch", v, bytes.length,
              s"cur=${p.currentLeaderEpoch}|epoch=${p.leaderEpoch}")
          } ++ WV.OffsetForLeaderEpochV.ValidVersions.map { v =>
            val bytes = WV.OffsetForLeaderEpochV.encodeResp(v, oleResp)
            val r = WV.OffsetForLeaderEpochV.decodeResp(v, bytes)
            val p = r.topics.head._2.head
            ("offset_for_leader_epoch_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|epoch=${p.leaderEpoch}|end=${p.endOffset}")
          } ++ WV.DescribeConfigsV.ValidVersions.map { v =>
            val bytes = WV.DescribeConfigsV.encode(v, dcReq)
            val r = WV.DescribeConfigsV.decode(v, bytes)
            ("describe_configs", v, bytes.length,
              s"syn=${r.includeSynonyms}|doc=${r.includeDocumentation}")
          } ++ WV.DescribeConfigsV.ValidVersions.map { v =>
            val bytes = WV.DescribeConfigsV.encodeResp(v, dcResp)
            val r = WV.DescribeConfigsV.decodeResp(v, bytes)
            val c = r.results.head.configs.head
            ("describe_configs_resp", v, bytes.length,
              s"src=${c.configSource}|type=${c.configType}|doc=${
                c.documentation.getOrElse("")}")
          } ++ WV.AlterConfigsV.ValidVersions.map { v =>
            val bytes = WV.AlterConfigsV.encode(v, acReq)
            val r = WV.AlterConfigsV.decode(v, bytes)
            ("alter_configs", v, bytes.length,
              s"n=${r.resources.head.configs.size}|validate=${r.validateOnly}")
          } ++ WV.AlterConfigsV.ValidVersions.map { v =>
            val bytes = WV.AlterConfigsV.encodeResp(v, acResp)
            val r = WV.AlterConfigsV.decodeResp(v, bytes)
            ("alter_configs_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|err=${r.responses.head.errorCode}")
          } ++ WV.IncrementalAlterConfigsV.ValidVersions.map { v =>
            val bytes = WV.IncrementalAlterConfigsV.encode(v, iaReq)
            val r = WV.IncrementalAlterConfigsV.decode(v, bytes)
            ("incremental_alter_configs", v, bytes.length,
              s"op=${WH.IncrementalAlterConfigs.OpNames(
                r.resources.head.configs.head.configOperation)}|validate=${
                r.validateOnly}")
          } ++ WV.DescribeAclsV.ValidVersions.map { v =>
            val bytes = WV.DescribeAclsV.encode(v, daReq)
            val r = WV.DescribeAclsV.decode(v, bytes)
            ("describe_acls", v, bytes.length,
              s"pt=${r.patternTypeFilter}|principal=${
                r.principalFilter.getOrElse("")}")
          } ++ WV.DescribeAclsV.ValidVersions.map { v =>
            val bytes = WV.DescribeAclsV.encodeResp(v, daResp)
            val r = WV.DescribeAclsV.decodeResp(v, bytes)
            ("describe_acls_resp", v, bytes.length,
              s"acls=${r.resources.head.acls.size}|pt=${
                r.resources.head.patternType}")
          } ++ WV.CreateAclsV.ValidVersions.map { v =>
            val bytes = WV.CreateAclsV.encode(v, caReq)
            val r = WV.CreateAclsV.decode(v, bytes)
            ("create_acls", v, bytes.length,
              s"n=${r.creations.size}|pt=${r.creations.head.patternType}")
          } ++ WV.CreateAclsV.ValidVersions.map { v =>
            val bytes = WV.CreateAclsV.encodeResp(v, caResp)
            val r = WV.CreateAclsV.decodeResp(v, bytes)
            ("create_acls_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|errs=${r.results.map(_._1).mkString(",")}")
          } ++ WV.DeleteAclsV.ValidVersions.map { v =>
            val bytes = WV.DeleteAclsV.encode(v, delReq)
            val r = WV.DeleteAclsV.decode(v, bytes)
            ("delete_acls", v, bytes.length,
              s"filters=${r.filters.size}|pt=${r.filters.head.patternTypeFilter}")
          } ++ WV.DeleteAclsV.ValidVersions.map { v =>
            val bytes = WV.DeleteAclsV.encodeResp(v, delResp)
            val r = WV.DeleteAclsV.decodeResp(v, bytes)
            ("delete_acls_resp", v, bytes.length,
              s"matches=${r.results.head.matchingAcls.size}|principal=${
                r.results.head.matchingAcls.head.principal}")
          }
        } ++ {
          // Tier-6 (the last multi-version keys): DescribeLogDirs 0-4,
          // DescribeClientQuotas / AlterClientQuotas 0-1.
          val ldReq = WH.DescribeLogDirs.Request(Some(Seq(("events", Seq(0, 1)))))
          val ldResp = WH.DescribeLogDirs.Response(5, 0, Seq(
            WH.DescribeLogDirs.DirResult(0, "/var/lib/d0", Seq(("events",
              Seq(WH.DescribeLogDirs.Partition(0, 4096L, 10L,
                isFutureKey = false)))), 1000000L, 900000L)))
          val qdReq = WH.ClientQuotas.DescribeRequest(Seq(
            WH.ClientQuotas.DescribeComponent("client-id", 0, Some("cli"))),
            strict = true)
          val qdResp = WH.ClientQuotas.DescribeResponse(5, 0, None, Seq(
            WH.ClientQuotas.Entry(
              Seq(WH.ClientQuotas.Entity("client-id", Some("cli"))),
              Seq(("producer_byte_rate", 1024.0)))))
          val qaReq = WH.ClientQuotas.AlterRequest(Seq(
            WH.ClientQuotas.AlterEntry(
              Seq(WH.ClientQuotas.Entity("client-id", Some("cli"))),
              Seq(WH.ClientQuotas.Op("producer_byte_rate", 2048.0,
                remove = false)))), validateOnly = false)
          val qaResp = WH.ClientQuotas.AlterResponse(5, Seq(
            WH.ClientQuotas.AlterResult(0, None,
              Seq(WH.ClientQuotas.Entity("client-id", Some("cli"))))))
          WV.DescribeLogDirsV.ValidVersions.map { v =>
            val bytes = WV.DescribeLogDirsV.encode(v, ldReq)
            val r = WV.DescribeLogDirsV.decode(v, bytes)
            ("describe_log_dirs", v, bytes.length,
              s"topics=${r.topics.map(_.size).getOrElse(-1)}|parts=${
                r.topics.map(_.head._2.size).getOrElse(-1)}")
          } ++ WV.DescribeLogDirsV.ValidVersions.map { v =>
            val bytes = WV.DescribeLogDirsV.encodeResp(v, ldResp)
            val r = WV.DescribeLogDirsV.decodeResp(v, bytes)
            ("describe_log_dirs_resp", v, bytes.length,
              s"dir=${r.results.head.logDir}|total=${r.results.head.totalBytes}")
          } ++ WV.ClientQuotasV.ValidVersions.map { v =>
            val bytes = WV.ClientQuotasV.encodeDescribe(v, qdReq)
            val r = WV.ClientQuotasV.decodeDescribe(v, bytes)
            ("describe_client_quotas", v, bytes.length,
              s"strict=${r.strict}|comps=${r.components.size}")
          } ++ WV.ClientQuotasV.ValidVersions.map { v =>
            val bytes = WV.ClientQuotasV.encodeDescribeResp(v, qdResp)
            val r = WV.ClientQuotasV.decodeDescribeResp(v, bytes)
            ("describe_client_quotas_resp", v, bytes.length,
              s"entries=${r.entries.size}|v=${r.entries.head.values.head._2}")
          } ++ WV.ClientQuotasV.ValidVersions.map { v =>
            val bytes = WV.ClientQuotasV.encodeAlter(v, qaReq)
            val r = WV.ClientQuotasV.decodeAlter(v, bytes)
            ("alter_client_quotas", v, bytes.length,
              s"ops=${r.entries.head.ops.size}|v=${r.entries.head.ops.head.value}")
          } ++ WV.ClientQuotasV.ValidVersions.map { v =>
            val bytes = WV.ClientQuotasV.encodeAlterResp(v, qaResp)
            val r = WV.ClientQuotasV.decodeAlterResp(v, bytes)
            ("alter_client_quotas_resp", v, bytes.length,
              s"throttle=${r.throttleMs}|results=${r.results.size}")
          }
        }
      rows.toDF("family", "version", "req_bytes", "detail")
        .orderBy("family", "version")
    }),

    "p6_wire_old_client" -> ((s, dir) => {
      // An OLD CLIENT end-to-end: the version matrix is not serde-only
      // — ancient frames drive the SAME engines the max-version twins
      // use. ListOffsets v0 (2012-era old-style offset LISTS, max_num_
      // offsets, no throttle) answers earliest/latest from the stored
      // log's offset bounds; OffsetCommit v1 (per-partition commit_
      // timestamp, no retention) lands g0's latest purchase offsets in
      // the ConsumerGroups store; OffsetFetch v1 reads all partitions
      // back (-1 for never-committed). Every leg round-trips through
      // real request/response FRAMES; the oracle recomputes the v0/v1
      // size laws closed-form.
      import s.implicits._
      import graft.functions.{WireHeaders => WH, WireVersions => WV}
      val log = storedLog(s, dir)
      val nParts = EventPartitions
      val bounds = RecordLog.offsetBounds(log).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      // --- ListOffsets v0: earliest(-2) and latest(-1), maxNumOffsets=1
      val listLegs = Seq(("earliest", 11, -2L), ("latest", 12, -1L)).flatMap {
        case (kind, corr, ts) =>
          val reqFrame = WH.encodeRequestFrame(
            WH.RequestHeader(2, 0, corr, Some("graft")),
            WV.ListOffsetsV.encode(0, WV.ListOffsetsV.Request(-1, 0,
              Seq(("events", (0 until nParts).map(p =>
                WV.ListOffsetsV.Part(p, -1, ts, 1)))))),
            flexible = false)
          val (hdr, reqBody) = WH.decodeRequestFrame(reqFrame, flexible = false)
          val req = WV.ListOffsetsV.decode(0, reqBody)
          val resp = WV.ListOffsetsRespV.Response(0, req.topics.map {
            case (name, ps) => (name, ps.map { p =>
              val off = if (p.timestamp == -2L) bounds(p.partitionIndex)._1
                        else bounds(p.partitionIndex)._2
              // v0 semantics: a LIST of offsets, newest first, capped at
              // max_num_offsets (list_offsets.cc legacy arm)
              WV.ListOffsetsRespV.Part(p.partitionIndex, 0, Seq(off), -1L, -1L, -1)
            })
          })
          val respFrame = WH.encodeResponseFrame(hdr.correlationId,
            WV.ListOffsetsRespV.encode(0, resp))
          val (corrBack, respBody) = WH.decodeResponseFrame(respFrame)
          WV.ListOffsetsRespV.decode(0, respBody).topics.flatMap(_._2).map(p =>
            (s"list_$kind", p.partitionIndex, p.oldStyleOffsets.head,
              reqFrame.length, respFrame.length, corrBack == corr))
      }
      // --- OffsetCommit v1: g0's latest purchase offsets, with the
      // v1-only commit_timestamp riding each partition
      val latest = ConsumerGroups.fetchOffsets(
        events(s, dir).where(col("event_type") === "purchase")
          .select(concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string"))
              .as("group"),
            lit("events").as("topic"),
            pmod(col("user_id"), lit(8)).cast("int").as("partition"),
            col("event_id").as("committed_offset"),
            col("event_id").as("commit_seq")))
        .where(col("group") === "g0")
        .select("partition", "committed_offset").collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val commitReqFrame = WH.encodeRequestFrame(
        WH.RequestHeader(8, 1, 13, Some("graft")),
        WV.OffsetCommitV.encode(1, WV.OffsetCommitV.Request("g0", 1, "m1",
          None, -1L, Seq(("events", latest.toIndexedSeq.map { case (p, off) =>
            WV.OffsetCommitV.Part(p, off, -1, 1700000000000L, Some("m")) })))),
        flexible = false)
      val (cHdr, cBody) = WH.decodeRequestFrame(commitReqFrame, flexible = false)
      val cReq = WV.OffsetCommitV.decode(1, cBody)
      val committed = cReq.topics.head._2.map(p => p.partitionIndex -> p.committedOffset).toMap
      val cRespFrame = WH.encodeResponseFrame(cHdr.correlationId,
        WV.OffsetCommitRespV.encode(1, WV.OffsetCommitRespV.Response(0,
          Seq(("events", cReq.topics.head._2.map(p => (p.partitionIndex, 0.toShort)))))))
      val (cCorr, cRespBody) = WH.decodeResponseFrame(cRespFrame)
      val cErrs = WV.OffsetCommitRespV.decode(1, cRespBody)
        .topics.flatMap(_._2).toMap
      val commitLegs = cReq.topics.head._2.map(p =>
        ("commit", p.partitionIndex, p.committedOffset, commitReqFrame.length,
          cRespFrame.length, cCorr == 13 && cErrs(p.partitionIndex) == 0 &&
            p.commitTimestamp == 1700000000000L))
      // --- OffsetFetch v1: read every partition back; never-committed
      // partitions answer -1 (the store's miss semantics)
      val fetchReqFrame = WH.encodeRequestFrame(
        WH.RequestHeader(9, 1, 14, Some("graft")),
        WV.OffsetFetchV.encode(1, WV.OffsetFetchV.Request(Seq(
          WV.OffsetFetchV.Group("g0", Some(Seq(("events", 0 until nParts))))),
          requireStable = false)),
        flexible = false)
      val (fHdr, fBody) = WH.decodeRequestFrame(fetchReqFrame, flexible = false)
      val fReq = WV.OffsetFetchV.decode(1, fBody)
      val fRespFrame = WH.encodeResponseFrame(fHdr.correlationId,
        WV.OffsetFetchRespV.encode(1, WV.OffsetFetchRespV.Response(0, Seq(
          WV.OffsetFetchRespV.Group("",
            Seq(("events", fReq.groups.head.topics.get.head._2.map(p =>
              WV.OffsetFetchRespV.Part(p, committed.getOrElse(p, -1L), -1,
                None, 0)))), 0)))))
      val (fCorr, fRespBody) = WH.decodeResponseFrame(fRespFrame)
      val fetchLegs = WV.OffsetFetchRespV.decode(1, fRespBody)
        .groups.head.topics.head._2.map(p =>
          ("fetch", p.partitionIndex, p.committedOffset, fetchReqFrame.length,
            fRespFrame.length, fCorr == 14))
      (listLegs ++ commitLegs ++ fetchLegs)
        .toDF("leg", "partition", "value", "req_bytes", "resp_bytes", "corr_ok")
        .orderBy("leg", "partition")
    }),

    "p6_wire_framing" -> ((s, dir) => {
      // Request/response FRAMING above the record-batch envelope
      // (kafka/server/protocol_utils.cc:23-120): the full 44-key
      // handler registry encoded as an ApiVersions response under
      // every serde version (v0 legacy array, v1/v2 + throttle, v3
      // flexible: compact array + tag buffers, response header pinned
      // at v0 per the schema's bootstrap quirk), framed, decoded back.
      // The oracle recomputes the byte-size laws independently.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{ApiRange, ApiVersionsResponse}
      // the handler registry is the bounded control-plane table every
      // admin entry already pins (44 rows)
      val keys = graft.admin.Admin.apiVersions(s)
        .select(col("api_key").cast("int")).as[Int].collect().sorted
      val resp = ApiVersionsResponse(0,
        keys.map(k => ApiRange(k.toShort, 0, ((k % 7) + 1).toShort)).toSeq, 0)
      Seq(0, 1, 2, 3).map { v =>
        val body = WireHeaders.encodeApiVersions(resp, v)
        val frame = WireHeaders.encodeResponseFrame(100 + v, body)
        val (corr, body2) = WireHeaders.decodeResponseFrame(frame)
        val dec = WireHeaders.decodeApiVersions(body2, v)
        (v, keys.length, body.length, frame.length, corr, dec == resp)
      }.toDF("version", "n_apis", "body_bytes", "frame_bytes",
        "correlation", "roundtrip_ok")
        .orderBy("version")
    }),

    "s3_dsv2_scan" -> ((s, dir) => {
      // The log as a Spark DataSourceV2 table: wire-format segment
      // files + sparse index sidecar, read through graft.sources
      // .LogSource. Pushed partition/offset predicates prune whole
      // segments at plan time (the scan description pins
      // segments=kept/total) and skip batch payloads at read time —
      // the reference's segment_index + log_reader seek, expressed as
      // DSv2 pushdown. Key/value bytes decode from the wire batches.
      val df = s.read.format("graft.sources.LogSource")
        .option("path", dsv2LogPath(s, dir)).load()
      df.where(col("partition") === 2 && col("offset") >= 40 &&
          col("offset") < 100)
        .select(col("partition"), col("offset"), col("timestamp"),
          col("key").cast("string").as("key_str"),
          col("value").cast("string").as("value_str"))
        .orderBy("offset")
    }),

    "s3_dsv2_prune" -> ((s, dir) => {
      // The header-only projection path: the aggregate needs only
      // (partition, offset), so dense batches inside the offset window
      // synthesize rows from the 61-byte header without parsing — let
      // alone decompressing — any records region.
      val df = s.read.format("graft.sources.LogSource")
        .option("path", dsv2LogPath(s, dir)).load()
      df.where(col("offset") < 120)
        .groupBy("partition")
        .agg(count(lit(1)).as("n"), min("offset").as("min_offset"),
          max("offset").as("max_offset"))
        .orderBy("partition")
    }),

    "s3_dsv2_write" -> ((s, dir) => {
      // Round-trip through BOTH DSv2 paths: the write side declares
      // clustering-by-partition + offset ordering
      // (RequiresDistributionAndOrdering — Spark plans the exchange,
      // nothing is hand-repartitioned), tasks roll wire-format
      // segments and the driver publishes the merged index atomically;
      // the read side then serves the aggregate under offset pushdown.
      val root = java.nio.file.Files.createTempDirectory("graft_dsv2w").toString
      eventLog(s, dir)
        .select(col("partition").cast("int").as("partition"),
          col("offset"), col("event_id").as("timestamp"),
          col("user_id").cast("string").cast("binary").as("key"),
          col("event_type").cast("binary").as("value"))
        .write.format("graftlog").mode("append").option("path", root).save()
      s.read.format("graftlog").option("path", root).load()
        .where(col("offset") < 200)
        .groupBy("partition")
        .agg(count(lit(1)).as("n"), max("timestamp").as("max_ts"),
          sum(length(col("value"))).as("value_bytes"))
        .orderBy("partition")
    }),

    "s3_dsv2_stream" -> ((s, dir) => {
      // The same on-disk log as a Structured Streaming source: the
      // sparse index is the discovery mechanism, the per-partition
      // next-offset cursor is the exactly-once checkpoint state. Two
      // availableNow runs share one checkpoint — the first drains the
      // phase-1 segments, new segment files + index appear between
      // runs, and the second run reads ONLY the new offsets (a
      // consumer-group resume, expressed as MicroBatchStream offsets).
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val root = java.nio.file.Files.createTempDirectory("graft_dsv2s").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dsv2s_ck").toString
      val allLines = scala.collection.mutable.ArrayBuffer.empty[String]
      def writePhase(lo: Long, hi: Long): Unit = {
        val lines = eventLog(s, dir)
          .where(col("offset") >= lo && col("offset") < hi)
          .select(col("partition"), col("offset"), col("event_id"),
            col("user_id").cast("string").as("k"), col("event_type").as("v"))
          .as[(Int, Long, Long, String, String)]
          .groupByKey(r => (r._1, r._2 / 2000))
          .mapGroups { (key: (Int, Long),
              it: Iterator[(Int, Long, Long, String, String)]) =>
            val rows = it.map(r => (r._2, r._3, r._4.getBytes("UTF-8"),
              r._5.getBytes("UTF-8"))).toSeq
            graft.sources.LogSource.writeSegment(root, key._1, rows, 30)
          }.collect()
        allLines ++= lines
        graft.sources.LogSource.writeIndex(root, allLines.toSeq)
      }
      // rows are bounded by the fixed offset windows (<= 120 per
      // partition at ANY scale factor), so the driver-side collector
      // is control-plane-sized; foreachBatch is the checkpoint-
      // recoverable sink (memory sink refuses restarts)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      def drain(phase: Int): Unit = {
        val q = s.readStream.format("graft.sources.LogSource")
          .option("path", root).load()
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            val rows = df.select("partition", "offset").collect()
            got.synchronized {
              got ++= rows.map(r => (phase, r.getInt(0), r.getLong(1)))
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      writePhase(0, 60)
      drain(1)
      writePhase(60, 120)
      drain(2)
      got.toSeq.toDF("phase", "partition", "offset")
        .groupBy("phase", "partition")
        .agg(count(lit(1)).as("n"), min("offset").as("min_offset"),
          max("offset").as("max_offset"))
        .orderBy("phase", "partition")
    }),

    "s3_index_entries" -> ((s, dir) =>
      // The per-segment sparse offset/time index the reference samples
      // on append (storage/index_state.cc:223-312 maybe_index: first
      // batch always, then whenever the byte accumulator since the
      // last sample reaches the step; an indexed batch resets it).
      // Oracle replays the accumulator ladder with a recursive CTE.
      graft.log.SegmentIndex.indexEntries(s3Batches(s, dir), S3IndexStep)
        .orderBy("partition", "segment", "entry_seq")),

    "s3_index_state" -> ((s, dir) =>
      // index_state header fields: offset/timestamp bounds + the
      // batch-timestamp monotonicity flag (segment_index.cc:121-126).
      graft.log.SegmentIndex.indexState(s3Batches(s, dir))
        .orderBy("partition", "segment")),

    "s3_index_size_seek" -> ((s, dir) => {
      // The size-distance lookups (index_state.cc:708-736):
      // find_above_size_bytes = first entry strictly past the byte
      // needle (upper_bound), find_below_size_bytes = last entry at or
      // below it (upper_bound minus one). Probes bracket each
      // segment's filepos range: 0, the midpoint, the max, past-max.
      val batches = s3Batches(s, dir).localCheckpoint(true)
      val entries = graft.log.SegmentIndex.indexEntries(batches, S3IndexStep)
      val fp = entries.groupBy("partition", "segment").agg(max("filepos").as("mx"))
      val probes = fp.select(col("partition"), col("segment"),
        explode(array(lit(0L), floor(col("mx") / 2).cast("long"),
          col("mx"), col("mx") + 1)).as("probe"))
      graft.log.SegmentIndex.findAboveSizeBytes(entries, probes)
        .withColumn("mode", lit("above"))
        .unionByName(graft.log.SegmentIndex.findBelowSizeBytes(entries, probes)
          .withColumn("mode", lit("below")))
        .orderBy("mode", "partition", "segment", "probe")
    }),

    "s3_index_truncate" -> ((s, dir) => {
      // index_state::truncate (index_state.cc:739-763): a cut below the
      // base is a no-op; otherwise entries from offset_lower_bound on
      // drop, and the header bounds shrink to the cut (or collapse to
      // the base when the cut emptied the index). Three cut shapes per
      // segment: below-base, midpoint, and the base itself.
      val batches = s3Batches(s, dir).localCheckpoint(true)
      val entries = graft.log.SegmentIndex.indexEntries(batches, S3IndexStep)
      val state = graft.log.SegmentIndex.indexState(batches)
      def run(tag: String, cut: Column): DataFrame =
        graft.log.SegmentIndex.truncatedState(entries, state,
            state.select(col("partition"), col("segment"),
              cut.as("new_max_offset"),
              (col("base_timestamp") + 5L).as("new_max_ts")))
          .withColumn("scenario", lit(tag))
      run("noop", col("base_offset") - 1)
        .unionByName(run("mid",
          floor((col("base_offset") + col("max_offset")) / 2).cast("long")))
        .unionByName(run("empty", col("base_offset")))
        .orderBy("scenario", "partition", "segment")
    }),

    "s3_index_nondata" -> ((s, dir) => {
      // The non-data-timestamp override (index_state.cc:246-264):
      // segments whose head is an internal CONFIG batch (walltime
      // stamps ~9e9) index it ("first batch always") but flag
      // non_data_timestamps; the first USER batch resets entry 0's
      // time cell to its raw last_timestamp and re-seeds the time
      // base; config batches never extend timestamp bounds nor trip
      // the sampler (:287-297,303). Four segments: config head + user,
      // all user (control), double-config head, and all-config (flag
      // stays true, walltime bounds kept). Deterministic 24-batch
      // frame; the oracle pins the fold's golden output
      // (mig_outcomes-style — scale-invariant protocol constants).
      val idx = (col("id") / 2).cast("long")
      val frame = s.range(24).select(
        (col("id") % 2).cast("int").as("partition"),
        (idx / 6).cast("long").as("segment"),
        (idx * 10).as("base_offset"),
        (idx * 10 + 9).as("last_offset"),
        idx.as("idx"),
        when((col("id") % 2) === 0, idx === 0)
          .otherwise(idx <= 1 || idx >= 6).as("is_config"))
        .withColumn("first_ts", when(col("is_config"), lit(9000000000L) + col("idx") * 10)
          .otherwise(lit(1000L) + col("idx") * 100))
        .withColumn("max_ts", col("first_ts") +
          when(col("is_config"), 5L).otherwise(50L))
        .withColumn("size_bytes", lit(3000L))
        .withColumn("user_data", !col("is_config"))
        .drop("idx", "is_config")
      val entries = graft.log.SegmentIndex.indexEntries(frame, 4000L)
      val state = graft.log.SegmentIndex.indexState(frame)
        .select(col("partition"), col("segment"), col("base_timestamp"),
          col("max_timestamp"), col("non_data_timestamps"))
      entries.join(state, Seq("partition", "segment"))
        .select(col("partition"), col("segment"), col("entry_seq"),
          col("rel_offset"), col("rel_time"), col("filepos"),
          col("base_timestamp"), col("max_timestamp"), col("non_data_timestamps"))
        .orderBy("partition", "segment", "entry_seq")
    }),

    "s3_index_lookup" -> ((s, dir) => {
      // find_nearest lookups (index_state.cc:673-690 offset floor;
      // :654-670 time lower_bound stepped back one, null out of
      // range). Probes bracket each segment: below-base (miss), base,
      // midpoint, and max (offset) / past-max (time).
      // the batch frame feeds entries, state, AND both probe sets —
      // checkpoint it once instead of replaying the offset-assignment
      // shuffle four times (the CleanPipeline shared-stage pattern)
      val batches = s3Batches(s, dir).localCheckpoint(true)
      val entries = graft.log.SegmentIndex.indexEntries(batches, S3IndexStep)
      val state = graft.log.SegmentIndex.indexState(batches)
      val oprobes = state.select(col("partition"), col("segment"),
        explode(array(col("base_offset") - 1, col("base_offset"),
          floor((col("base_offset") + col("max_offset")) / 2).cast("long"),
          col("max_offset"))).as("probe"))
      val tprobes = state.select(col("partition"), col("segment"),
        explode(array(col("base_timestamp") - 1, col("base_timestamp"),
          floor((col("base_timestamp") + col("max_timestamp")) / 2).cast("long"),
          col("max_timestamp") + 1000)).as("probe"))
      graft.log.SegmentIndex.findNearestOffset(entries, state, oprobes)
        .withColumn("kind", lit("offset"))
        .unionByName(graft.log.SegmentIndex.findNearestTime(entries, state, tprobes)
          .withColumn("kind", lit("time")))
        // driver-hash hygiene: misses as -1 sentinels, not NULLs
        .select(col("kind"), col("partition"), col("segment"), col("probe"),
          col("found"), coalesce(col("rel_offset"), lit(-1L)).as("rel_offset"),
          coalesce(col("rel_time"), lit(-1L)).as("rel_time"),
          coalesce(col("filepos"), lit(-1L)).as("filepos"))
        .orderBy("kind", "partition", "segment", "probe")
    }),

    "d3_schema_evolution" -> ((s, dir) => {
      // Rows written under schema v1 (k int, v string) evolved to v2
      // (k long, v string, score double nullable): promotable cast +
      // null-filled new field, gated by the compatibility checker.
      val old = events(s, dir)
        .select(col("user_id").cast("int").as("k"), col("event_type").as("v"))
      val target = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType),
        StructField("score", DoubleType)))
      graft.registry.SchemaRegistry.evolve(old, target)
        .groupBy("v")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          count("score").as("non_null_scores"))
        .orderBy("v")
    }),

    "sr_canonical_ids" -> ((s, dir) => {
      // Sanitized-definition dedup + global id projection
      // (avro.cc sanitize_avro_schema_definition / sharded_store
      // get_schema_version): the same logical schema spelled with
      // different whitespace, member order, dotted-vs-split fullname,
      // and leading-dot union refs resolves to ONE global id across
      // subjects, and re-registering a subject's existing definition
      // returns the existing version without growing the chain.
      import s.implicits._
      val a1 = """{"type":"record","name":"com.ex.Ev","fields":[
        {"name":"id","type":"long"},{"name":"who","type":[".U","null"]}]}"""
      val a2 = """{ "fields": [ {"type":"long","name":"id"},
        {"type":["U","null"],"name":"who"} ],
        "namespace": "com.ex", "name": "Ev", "type": "record" }"""
      val b = """{"type":"record","name":"com.ex.Ev","fields":[{"name":"id","type":"string"}]}"""
      val b2 = """{"fields":[{"name":"id","type":"string"}],"type":"record","namespace":"com.ex","name":"Ev"}"""
      val cEnum = """{"symbols":["A","B"],"type":"enum","name":"Lvl"}"""
      graft.registry.AvroCanonical.projectIds(Seq(
          (1L, "events-value", a1), (2L, "orders-value", a2),
          (3L, "events-value", a2), (4L, "events-value", b),
          (5L, "audit-value", cEnum), (6L, "orders-value", b2)))
        .toDF("seq", "subject", "schema_id", "version", "new_id", "new_version")
        .orderBy("seq")
    }),

    "sr_normalize" -> ((s, dir) => {
      // Normalize-on-register (types.h:38 `normalize` bool_class): with
      // the flag, a re-spelling (JSON key order / protobuf field order
      // + comments) registers ONCE and shares the global id; without
      // it, the raw spelling is the identity and mints a new id. Avro
      // sanitizes unconditionally (avro.cc:596), so dotted-name vs
      // split-namespace spellings share an id flag or no flag.
      import s.implicits._
      import graft.registry.{Normalize, SchemaRegistry => SR}
      val json1 = """{"type":"object","properties":{"a":{"type":"integer"},"b":{"type":"string"}}}"""
      val json2 = """{ "properties": { "b": {"type":"string"}, "a": {"type":"integer"} }, "type": "object" }"""
      val proto1 = """syntax = "proto3"; message Ev { int64 id = 1; string who = 2; }"""
      val proto2 = "syntax = \"proto3\";\nmessage Ev { string who = 2; // renamed later\n int64 id = 1; }"
      // same body, proto2 semantics: a DIFFERENT contract (field
      // presence), so the normal form keeps the syntax line and the
      // registration mints a new id even under the flag
      val proto3as2 = """syntax = "proto2"; message Ev { optional string who = 2; optional int64 id = 1; }"""
      val avro1 = """{"type":"record","name":"com.ex.Ev","fields":[{"name":"id","type":"long"}]}"""
      val avro2 = """{ "fields": [{"name":"id","type":"long"}], "namespace": "com.ex", "name": "Ev", "type": "record" }"""
      Normalize.projectIds(Seq(
          (1L, "cfg-value", SR.JsonType, json1, true),
          (2L, "cfg-value", SR.JsonType, json2, true),
          (3L, "cfg-raw", SR.JsonType, json2, false),
          (4L, "ev-proto", SR.ProtobufType, proto1, true),
          (5L, "ev-proto", SR.ProtobufType, proto2, true),
          (6L, "ev-proto-raw", SR.ProtobufType, proto2, false),
          (7L, "ev-avro", SR.AvroType, avro1, false),
          (8L, "ev-avro2", SR.AvroType, avro2, false),
          (9L, "ev-proto2", SR.ProtobufType, proto3as2, true)))
        .toDF("seq", "subject", "schema_id", "version", "new_id", "new_version")
        .orderBy("seq")
    }),

    "sr_subject_delete" -> ((s, dir) => {
      // SR soft-vs-hard delete: ev-value v2 soft-deleted (listed with
      // is_deleted under include_deleted); ev-value v1 hard-deleted
      // (gone); ord-value hard-deleted subject-wide at seq 6 but
      // re-registered at seq 7 (resurrected). Oracle pins the view.
      import s.implicits._
      val schemaLog = Seq(
        (1L, "ev-value", 1, "s1v1"),
        (2L, "ev-value", 2, "s1v2"),
        (3L, "ord-value", 1, "o1"),
        (5L, "ev-value", 3, "s1v3"),
        (7L, "ord-value", 1, "o1b"))
        .toDF("seq", "subject", "version", "schema")
      val deleteLog = Seq(
        (4L, "ev-value", Some(2), false),
        (6L, "ord-value", None: Option[Int], true),
        (8L, "ev-value", Some(1), true))
        .toDF("seq", "subject", "version", "hard")
      graft.registry.SchemaRegistry.subjectVersions(schemaLog, deleteLog,
          includeDeleted = true)
        .select("subject", "version", "schema", "is_deleted")
        .orderBy("subject", "version")
    }),

    "s5_rest_proxy" -> ((s, dir) => {
      // The S5 HTTP proxy's protocol contract (pandaproxy/rest/
      // handlers.h routes, v2 embedded formats, 404xx ladder) scripted
      // end-to-end: binary_v2 produce (explicit + murmur2-routed +
      // out-of-range partition), record reads by offset, the full
      // consumer lifecycle (create → subscribe → fetch → position
      // advance → commit → offset fetch → remove → 40403), and the
      // produce/fetch payload round trip. Details parse the RESPONSE
      // bodies; the routed partition pins the unsigned-murmur2
      // partitioner.
      import s.implicits._
      import graft.proxy.RestProxy
      import com.fasterxml.jackson.databind.ObjectMapper
      val m = new ObjectMapper()
      def b64(x: String) = java.util.Base64.getEncoder.encodeToString(
        x.getBytes("UTF-8"))
      val srv = new RestProxy.Server(nPartitions = 3)
      srv.createTopic("events-rest")
      def offsetsDetail(b: String): String =
        "offsets=" + {
          val a = m.readTree(b).get("offsets")
          (0 until a.size()).map { i =>
            val o = a.get(i)
            if (o.has("error_code")) s"p${o.get("partition").asInt()}:err${o.get("error_code").asInt()}"
            else s"p${o.get("partition").asInt()}:${o.get("offset").asLong()}"
          }.mkString(",")
        }
      def countDetail(b: String): String = "n=" + m.readTree(b).size()
      def errDetail(b: String): String = "error=" + m.readTree(b).get("error_code").asInt()
      val script: Seq[(String, String, Option[String], RestProxy.Resp => String)] = Seq(
        ("GET", "/brokers", None, r => "body=" + r.body),
        ("GET", "/topics", None, r => "body=" + r.body),
        ("POST", "/topics/events-rest", Some(
          s"""{"records":[{"partition":0,"key":"${b64("k1")}","value":"${b64("v1")}"},
             |{"partition":0,"value":"${b64("v2")}"},
             |{"key":"${b64("user-42")}","value":"${b64("v3")}"},
             |{"partition":7,"value":"${b64("x")}"}]}""".stripMargin),
          r => offsetsDetail(r.body)),
        ("GET", "/topics/events-rest/partitions/0/records?offset=1", None,
          r => countDetail(r.body) + ";first_value=" + new String(
            java.util.Base64.getDecoder.decode(
              m.readTree(r.body).get(0).get("value").asText()), "UTF-8")),
        ("POST", "/consumers/cg", Some("""{"name":"c1","format":"binary"}"""),
          r => "instance=" + m.readTree(r.body).get("instance_id").asText()),
        ("POST", "/consumers/cg/instances/c1/subscription",
          Some("""{"topics":["events-rest"]}"""), _ => "subscribed"),
        ("GET", "/consumers/cg/instances/c1/records", None, r => countDetail(r.body)),
        ("GET", "/consumers/cg/instances/c1/records", None, r => countDetail(r.body)),
        ("POST", "/consumers/cg/instances/c1/offsets", Some(
          """{"partitions":[{"topic":"events-rest","partition":0,"offset":2}]}"""),
          _ => "committed"),
        ("GET", "/consumers/cg/instances/c1/offsets", Some(
          """{"partitions":[{"topic":"events-rest","partition":0}]}"""),
          r => "offset=" + m.readTree(r.body).get("offsets").get(0).get("offset").asLong()),
        ("DELETE", "/consumers/cg/instances/c1", None, _ => "removed"),
        ("GET", "/consumers/cg/instances/c1/records", None, r => errDetail(r.body)),
        ("GET", "/topics/nope/partitions/0/records", None, r => errDetail(r.body)))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "e2e_stack" -> ((s, dir) => {
      // CROSS-LAYER scenario: one planted record set drives the full
      // stack in sequence — wire Produce frame (v8) → CRC-gated wire
      // ingest → wasm guest transform (real bytecode in the guest VM) →
      // Iceberg v2 commit + manifest-driven read-back → wire Fetch
      // frame (v11) → REST-proxy produce/consume — and the PROXY's
      // consumed records are what the oracle checks. Partition 2's
      // envelope gets a byte of its CRC region flipped inside the wire
      // frame, so its records must be absent from every downstream
      // layer. Each hop's row count is folded into the per-row `chain`
      // column: per-layer golden scripts cannot see interface drift
      // between layers; this entry fails if any hop drops, duplicates,
      // or reorders records.
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      import graft.functions.{RecordBatchCodec, WireHeaders}
      import WireHeaders.{Fetch, Produce}
      val nP = 3
      val planted = T(s, dir, "events").where(col("event_id") < 48)
        .select(col("event_id"),
          pmod(col("event_id"), lit(nP)).cast("int").as("partition"),
          col("event_type"))
      // ---- layer 1: record-batch v2 envelopes inside a Produce frame
      val w = Window.partitionBy("partition")
      val envs = planted
        .withColumn("offset", row_number().over(
          Window.partitionBy("partition").orderBy("event_id")).cast("long") - 1)
        .withColumn("base_offset", lit(0L))
        .withColumn("first_ts", min("event_id").over(w))
        .groupBy("partition")
        .agg(first(col("base_offset")).as("base_offset"),
          first(col("first_ts")).as("first_timestamp"),
          max(col("event_id")).as("max_timestamp"),
          sort_array(collect_list(struct(
            col("offset").cast("int").as("offset_delta"),
            (col("event_id") - col("first_ts")).cast("long").as("ts_delta"),
            col("event_id").cast("string").cast("binary").as("key"),
            concat(lit("type="), col("event_type")).cast("binary").as("value"),
            array().cast("array<struct<header_key:string,header_value:binary>>")
              .as("headers")))).as("records"))
        .select(col("partition"),
          call_function("kafka_batch_encode", p6EncodeStruct).as("wire"))
        .withColumn("wire", when(col("partition") === 2,
          concat(substring(col("wire"), 1, 21), lit(Array[Byte](0x7f.toByte)),
            substring(col("wire"), 23, Int.MaxValue))).otherwise(col("wire")))
        .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]]("wire")))
        .sortBy(_._1)
      val produceFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(0, 8, 77, Some("graft-e2e")),
        Produce.encodeRequest(Produce.Request(None, -1, 30000,
          Seq(("events_in", envs.toIndexedSeq.map { case (p, wb) => (p, Some(wb)) })))),
        flexible = false)
      // ---- layer 2: decode the frame, CRC-gated distributed ingest
      val (phdr, preqBody) = WireHeaders.decodeRequestFrame(produceFrame, flexible = false)
      val preq = Produce.decodeRequest(preqBody)
      val wires = preq.topics.head._2.map { case (p, wb) => (p, wb.get) }
        .toDF("partition", "wire")
      // ONE wire-ingest evaluation (pinned) serves the accept hop, its
      // hash, and the CRC-reject check — the former spelling ran the
      // CRC-gated decode once per consumer.
      val routed = graft.log.RecordLog.wireIngest(
          wires, col("wire"), col("partition"), lit(0L))
        .localCheckpoint(true)
      val ingested = routed
        .where(col("route") === "accept")
        .select(col("partition"), col("offset"), col("key"), col("value"))
      val (nIngested, hIngested) = hopStats(ingested)
      val p2Rejected = routed
        .where(col("route") === "crc_reject" && col("partition") === 2).count() == 1
      // ---- layer 3: the wasm guest VM uppercases every value
      val transformed = graft.wasm.WasmTransform(
        ingested.withColumn("timestamp", col("offset") + lit(1700000000000L))
          .select("partition", "offset", "timestamp", "key", "value"),
        graft.wasm.GuestModules.upperValue)
        // the guest mirrors records 1:1 in batch order, so its emit
        // order (batch_index, seq) re-derives the log offset
        .withColumn("offset", row_number().over(Window.partitionBy("partition")
          .orderBy("batch_index", "seq")).cast("long") - 1)
        // pinned: the guest-VM transform feeds both the hop hash and the
        // Iceberg commit — one VM pass, not one per consumer
        .localCheckpoint(true)
      val (nTransformed, hTransformed) = hopStats(transformed)
      // ---- layer 4: Iceberg v2 commit (real metadata chain), read back
      // through the manifest-driven scan
      val table = cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft_e2e_tbl")).toString
      graft.streaming.IcebergFormat.commit(
        transformed.select(col("partition"), col("offset"),
          timestamp_millis(col("offset") + lit(1700000000000L)).as("ts"),
          decode(col("key"), "UTF-8").as("key"),
          decode(col("value"), "UTF-8").as("value")),
        col("ts"), table)
      val tableRows = graft.streaming.IcebergFormat.readTable(s, table)
        .select("partition", "offset", "key", "value")
        // pinned: read once, consumed by the hop hash, the fetch
        // envelopes, and the HWM aggregate
        .localCheckpoint(true)
      val (nCommitted, hCommitted) = hopStats(tableRows)
      // ---- layer 5: Fetch frame serving the table's rows as stored
      // record-batch envelopes, decoded from the response BYTES
      val fetchReqFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(1, 11, 78, Some("graft-e2e")),
        Fetch.encodeRequest(Fetch.Request(-1, 500, 1, 52428800, 0, 0, -1,
          Seq(("events_out", (0 until nP).map(p =>
            Fetch.ReqPart(p, -1, 0L, 0L, 1048576)))), Nil, "")),
        flexible = false)
      val (fhdr, freqBody) = WireHeaders.decodeRequestFrame(fetchReqFrame, flexible = false)
      val freq = Fetch.decodeRequest(freqBody)
      val w2 = Window.partitionBy("partition")
      val fetchEnvs = tableRows
        .withColumn("base_offset", min("offset").over(w2))
        .withColumn("first_ts", min("offset").over(w2))
        .groupBy("partition")
        .agg(first(col("base_offset")).as("base_offset"),
          first(col("first_ts")).as("first_timestamp"),
          max(col("offset")).as("max_timestamp"),
          sort_array(collect_list(struct(
            (col("offset") - col("base_offset")).cast("int").as("offset_delta"),
            (col("offset") - col("first_ts")).cast("long").as("ts_delta"),
            col("key").cast("binary").as("key"),
            col("value").cast("binary").as("value"),
            array().cast("array<struct<header_key:string,header_value:binary>>")
              .as("headers")))).as("records"))
        .select(col("partition"),
          call_function("kafka_batch_encode", p6EncodeStruct).as("wire"))
        .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("wire")).toMap
      val hwms = tableRows.groupBy("partition").agg(max("offset").as("hi"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1) + 1)).toMap
      val fresp = Fetch.Response(0, 0, 0, Seq(("events_out",
        freq.topics.head._2.flatMap { p =>
          hwms.get(p.partitionIndex).map(h =>
            Fetch.RespPart(p.partitionIndex, 0, h, h, 0L, Some(Nil), -1,
              fetchEnvs.get(p.partitionIndex)))
        })))
      val frespFrame = WireHeaders.encodeResponseFrame(fhdr.correlationId,
        Fetch.encodeResponse(fresp))
      val (fcorr, frespBody) = WireHeaders.decodeResponseFrame(frespFrame)
      val fetched = Fetch.decodeResponse(frespBody).topics.flatMap { case (_, ps) =>
        ps.flatMap { p => p.records.toSeq.flatMap { env =>
          val bh = RecordBatchCodec.decodeHeader(env)
          RecordBatchCodec.decodeRecords(
              RecordBatchCodec.recordsRegion(env), bh.recordCount)
            .map(r => (p.partitionIndex, bh.baseOffset + r.offsetDelta,
              new String(r.key, "UTF-8"), new String(r.value, "UTF-8")))
        } } }
      // ---- layer 6: REST proxy — produce the fetched rows, consume
      // them back through the per-partition record reads
      import graft.proxy.RestProxy
      val proxy = new RestProxy.Server(nPartitions = nP)
      proxy.createTopic("events_out")
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val enc = java.util.Base64.getEncoder
      val dec = java.util.Base64.getDecoder
      val recs = fetched.sortBy(r => (r._1, r._2)).map { case (p, _, k, v) =>
        s"""{"partition":$p,"key":"${enc.encodeToString(k.getBytes("UTF-8"))}",""" +
          s""""value":"${enc.encodeToString(v.getBytes("UTF-8"))}"}"""
      }.mkString("[", ",", "]")
      val prodResp = proxy.handle("POST", "/topics/events_out",
        Some(s"""{"records":$recs}"""))
      val proxyOk = prodResp.status == 200
      val consumed = (0 until nP).flatMap { p =>
        val r = proxy.handle("GET",
          s"/topics/events_out/partitions/$p/records?offset=0")
        if (r.status != 200) Nil
        else {
          val a = m.readTree(r.body)
          (0 until a.size()).map { i =>
            val o = a.get(i)
            (p, o.get("offset").asLong(),
              new String(dec.decode(o.get("key").asText()), "UTF-8"),
              new String(dec.decode(o.get("value").asText()), "UTF-8"))
          }
        }
      }
      // hash-valued hops (round 17): every layer's payload folds into
      // the chain as an order-insensitive md5 sum the oracle re-derives
      // — a count-only chain masked a wrong-column bug in round 16
      val chain = s"ingested=$nIngested,transformed=$nTransformed," +
        s"committed=$nCommitted,fetched=${fetched.size}," +
        s"consumed=${consumed.size},p2_rejected=$p2Rejected," +
        s"corr_ok=${phdr.correlationId == 77 && fcorr == 78},proxy_ok=$proxyOk," +
        s"h_ingested=$hIngested," +
        s"h_transformed=$hTransformed," +
        s"h_committed=$hCommitted," +
        s"h_fetched=${hopHashRows(fetched)}," +
        s"h_consumed=${hopHashRows(consumed)}"
      consumed.map { case (p, o, k, v) => (p, o, k, v, chain) }
        .toDF("partition", "offset", "key", "value", "chain")
        .orderBy("partition", "offset")
    }),

    "e2e_txn_stack" -> ((s, dir) => {
      // CROSS-LAYER transactional scenario (round 16): wire
      // InitProducerId v4 allocates two producers → four wire Produce v8
      // frames interleave the two transactions' batches on both
      // partitions (attributes bit 0x10, real base sequences) → the
      // engine ingests them CRC-gated and offset-assigned → wire EndTxn
      // v3 commits tx-a and ABORTS tx-b → a read_committed wire Fetch
      // v11 (isolation_level=1, aborted ranges in the response) must
      // serve ONLY tx-a's rows below the LSO → wire TxnOffsetCommit v3
      // lands group offsets for BOTH txns, of which only tx-a's may
      // become visible (group::commit_tx) → the REST proxy consumes from
      // the committed offset. Per-hop counts fold into `chain`; the
      // oracle re-derives every offset, the LSO cut, and the tail.
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      import graft.functions.{RecordBatchCodec, WireHeaders}
      import WireHeaders.{Fetch, InitProducerId, EndTxn, Produce,
        TxnOffsetCommit => TOC}
      val nP = 2
      val Group = "g-e2e"
      // ---- layer 1: wire InitProducerId allocates pids 500 / 501
      val pids = Seq("tx-a", "tx-b").zipWithIndex.map { case (tid, i) =>
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(22, 4, 90 + i, Some("graft-txn")),
          InitProducerId.encodeRequest(InitProducerId.Request(
            Some(tid), 60000, -1L, -1)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = InitProducerId.decodeRequest(body)
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          InitProducerId.encodeResponse(InitProducerId.Response(
            0, 0, 500L + i, 0)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        val resp = InitProducerId.decodeResponse(rb)
        (req.transactionalId.get, resp.producerId,
          corr == 90 + i && req.transactionTimeoutMs == 60000)
      }
      val pidOf = pids.map(p => p._1 -> p._2).toMap
      val initOk = pids.forall(_._3)
      // ---- layer 2: four interleaved transactional Produce frames
      // (frame = (half, txn): tx-a h1, tx-b h1, tx-a h2, tx-b h2)
      val planted = T(s, dir, "events").where(col("event_id") < 36)
        .select(col("event_id"),
          pmod(col("event_id"), lit(nP)).cast("int").as("partition"),
          col("event_type"),
          when(pmod(col("event_id"), lit(3)) === 0, lit("tx-b"))
            .otherwise(lit("tx-a")).as("tid"),
          when(col("event_id") < 18, lit(0)).otherwise(lit(1)).as("half"))
      val w = Window.partitionBy("partition", "tid", "half")
      // ONE pass over the planted rows builds every (half, txn) envelope:
      // the former per-frame loop ran the identical window + encode
      // aggregate four times (four sequential collects, four plan/codegen
      // compilations of the same shape); the (partition, tid, half) keys
      // are disjoint, so grouping on all three yields bit-identical wire
      // bytes per frame in a single action.
      val envRows = planted
        .withColumn("offset",
          row_number().over(w.orderBy("event_id")).cast("long") - 1)
        .withColumn("base_offset", lit(0L))
        .withColumn("first_ts", min("event_id").over(w))
        .groupBy("partition", "tid", "half")
        .agg(first(col("base_offset")).as("base_offset"),
          first(col("first_ts")).as("first_timestamp"),
          max(col("event_id")).as("max_timestamp"),
          sort_array(collect_list(struct(
            col("offset").cast("int").as("offset_delta"),
            (col("event_id") - col("first_ts")).cast("long").as("ts_delta"),
            col("event_id").cast("string").cast("binary").as("key"),
            concat(lit("type="), col("event_type")).cast("binary").as("value"),
            array().cast("array<struct<header_key:string,header_value:binary>>")
              .as("headers")))).as("records"))
        .select(col("tid"), col("half"),
          col("partition"), call_function("kafka_batch_encode", struct(
            col("base_offset"), lit(5).as("partition_leader_epoch"),
            lit(0x10).as("attributes"), // transactional bit
            col("first_timestamp"), col("max_timestamp"),
            when(col("tid") === "tx-b", lit(pidOf("tx-b")))
              .otherwise(lit(pidOf("tx-a"))).as("producer_id"),
            lit(0).as("producer_epoch"),
            (col("half") * 9).cast("int").as("base_sequence"),
            col("records"))).as("wire"))
        .collect()
        .map(r => ((r.getString(0), r.getInt(1)),
          (r.getInt(2), r.getAs[Array[Byte]]("wire"))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1) }
      val frames = (for (half <- 0 to 1; tid <- Seq("tx-a", "tx-b")) yield {
        // an empty (tid, half) slice must yield an empty frame (the old
        // per-frame loop's behavior), not a NoSuchElementException
        val envs = envRows.getOrElse((tid, half), Array.empty[(Int, Array[Byte])])
        WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(0, 8, 100 + half * 2 + (if (tid == "tx-b") 1 else 0),
            Some("graft-txn")),
          Produce.encodeRequest(Produce.Request(Some(tid), -1, 30000,
            Seq(("txn_events", envs.toIndexedSeq.map { case (p, wb) => (p, Some(wb)) })))),
          flexible = false)
      }).toIndexedSeq
      // decode each frame, collect (partition, arrival, wire)
      val wireRows = frames.zipWithIndex.flatMap { case (f, i) =>
        val (_, body) = WireHeaders.decodeRequestFrame(f, flexible = false)
        Produce.decodeRequest(body).topics.head._2.map { case (p, wb) =>
          (p, i.toLong, wb.get)
        }
      }.toDF("partition", "arrival", "wire")
      // Pinned: consumed by the hop hash AND the offset cross-check join.
      val ingested = graft.log.RecordLog.wireIngest(
          wireRows, col("wire"), col("partition"), col("arrival"))
        .where(col("route") === "accept")
        .select(col("partition"), col("offset"), col("key"), col("value"))
        .localCheckpoint(true)
      val (nIngested, hIngested) = hopStats(ingested)
      // decode envelope headers too: pid + txn bit travel the wire
      // Pinned: the decode + window feeds five downstream actions (the
      // txn-bit check, the offset cross-check, the log for readCommitted /
      // abortedRanges / LSO / commitTxOffsets) — lineage truncation keeps
      // every later action's plan shallow instead of replaying the wire
      // decode per action.
      val decoded = wireRows
        .select(col("partition"), col("arrival"),
          call_function("kafka_batch_decode", col("wire")).as("d"))
        .select(col("partition"), col("arrival"),
          col("d.producer_id").as("pid"),
          (col("d.attributes").bitwiseAND(lit(0x10)) =!= 0).as("txn_bit"),
          explode(col("d.records")).as("r"))
        .withColumn("offset", row_number().over(Window.partitionBy("partition")
          .orderBy(col("arrival"), col("r.offset_delta"))).cast("long") - 1)
        .localCheckpoint(true)
      val txnBitsOk = decoded.where(!col("txn_bit")).count() == 0
      // the engine's assignment and the header-decode replay must agree
      val offsetsMatch = ingested.alias("a").join(decoded.alias("b"),
          col("a.partition") === col("b.partition") &&
            col("a.key") === col("b.r.key"))
        .where(col("a.offset") =!= col("b.offset")).count() == 0
      // ---- layer 3: wire EndTxn — commit tx-a, abort tx-b
      val ends = Seq(("tx-a", true), ("tx-b", false)).zipWithIndex.map {
        case ((tid, commit), i) =>
          val reqF = WireHeaders.encodeRequestFrame(
            WireHeaders.RequestHeader(26, 3, 110 + i, Some("graft-txn")),
            EndTxn.encodeRequest(EndTxn.Request(tid, pidOf(tid), 0, commit)),
            flexible = true)
          val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
          val req = EndTxn.decodeRequest(body)
          (req.transactionalId, req.producerId, req.committed, h.correlationId == 110 + i)
      }
      val endsOk = ends.forall(_._4)
      val dataLog = decoded.select(col("partition"), col("offset"),
        col("pid"), lit(1L).as("txn_seq"), lit(false).as("is_control"),
        lit(null).cast("string").as("decision"),
        lit(graft.model.BatchType.RaftData).as("batch_type"),
        col("r.key").as("key"), col("r.value").as("value"))
      val maxOff = dataLog.groupBy("partition").agg(max("offset").as("mx"))
      val markers = maxOff.crossJoin(
          ends.map(e => (e._1, e._2, if (e._3) "commit" else "abort"))
            .toDF("tid", "m_pid", "decision"))
        .withColumn("offset", col("mx") + when(col("decision") === "commit", 1L).otherwise(2L))
        .select(col("partition"), col("offset"), col("m_pid").as("pid"),
          lit(1L).as("txn_seq"), lit(true).as("is_control"), col("decision"),
          lit(graft.model.BatchType.RaftData).as("batch_type"),
          lit(null).cast("binary").as("key"), lit(null).cast("binary").as("value"))
      // Pinned for the same reason: four TxnEngine passes read the log.
      val log = dataLog.unionByName(markers).localCheckpoint(true)
      // ---- layer 4: read_committed wire Fetch (isolation_level = 1)
      val committed = graft.log.TxnEngine.readCommitted(log)
        .select(col("partition"), col("offset"), col("key"), col("value"))
        .localCheckpoint(true)
      val (nCommitted, hCommitted) = hopStats(committed)
      // abortedRanges rows: (partition, pid, txn_seq, first, last)
      val aborted = graft.log.TxnEngine.abortedRanges(log)
        .collect().map(r => (r.getInt(0), r.getLong(3), r.getLong(4)))
      val w2 = Window.partitionBy("partition")
      val fetchEnvs = committed
        .withColumn("base_offset", min("offset").over(w2))
        .withColumn("first_ts", min("offset").over(w2))
        .groupBy("partition")
        .agg(first(col("base_offset")).as("base_offset"),
          first(col("first_ts")).as("first_timestamp"),
          max(col("offset")).as("max_timestamp"),
          sort_array(collect_list(struct(
            (col("offset") - col("base_offset")).cast("int").as("offset_delta"),
            (col("offset") - col("first_ts")).cast("long").as("ts_delta"),
            col("key").cast("binary").as("key"),
            col("value").cast("binary").as("value"),
            array().cast("array<struct<header_key:string,header_value:binary>>")
              .as("headers")))).as("records"))
        .select(col("partition"),
          call_function("kafka_batch_encode", p6EncodeStruct).as("wire"))
        .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("wire")).toMap
      val lsos = graft.log.TxnEngine.lastStableOffsets(log)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val fetchReqFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(1, 11, 120, Some("graft-txn")),
        Fetch.encodeRequest(Fetch.Request(-1, 500, 1, 52428800,
          isolationLevel = 1, 0, -1,
          Seq(("txn_events", (0 until nP).map(p =>
            Fetch.ReqPart(p, -1, 0L, 0L, 1048576)))), Nil, "")),
        flexible = false)
      val (fhdr, freqBody) = WireHeaders.decodeRequestFrame(fetchReqFrame, flexible = false)
      val freq = Fetch.decodeRequest(freqBody)
      val isoOk = freq.isolationLevel == 1
      val fresp = Fetch.Response(0, 0, 0, Seq(("txn_events",
        freq.topics.head._2.map { p =>
          val ab = aborted.filter(_._1 == p.partitionIndex)
            .map(a => Fetch.Aborted(pidOf("tx-b"), a._2)).toIndexedSeq
          Fetch.RespPart(p.partitionIndex, 0,
            lsos(p.partitionIndex) + 2, lsos(p.partitionIndex),
            0L, Some(ab), -1, fetchEnvs.get(p.partitionIndex))
        })))
      val frespFrame = WireHeaders.encodeResponseFrame(fhdr.correlationId,
        Fetch.encodeResponse(fresp))
      val (fcorr, frespBody) = WireHeaders.decodeResponseFrame(frespFrame)
      val fetchedParts = Fetch.decodeResponse(frespBody).topics.head._2
      val nAbortedServed = fetchedParts.map(_.aborted.map(_.size).getOrElse(0)).sum
      val fetched = fetchedParts.flatMap { p =>
        p.records.toSeq.flatMap { env =>
          val bh = RecordBatchCodec.decodeHeader(env)
          RecordBatchCodec.decodeRecords(
              RecordBatchCodec.recordsRegion(env), bh.recordCount)
            .map(r => (p.partitionIndex, bh.baseOffset + r.offsetDelta,
              new String(r.key, "UTF-8"), new String(r.value, "UTF-8")))
        }
      }
      val txbAbsent = fetched.forall { case (_, _, k, _) => k.toLong % 3 != 0 }
      // ---- layer 5: wire TxnOffsetCommit for both txns; only tx-a's
      // offsets may become visible (its txn carries the commit marker)
      val perPartN = fetched.groupBy(_._1).view.mapValues(_.size).toMap
      val tocRows = Seq("tx-a", "tx-b").zipWithIndex.flatMap { case (tid, i) =>
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(28, 3, 130 + i, Some("graft-txn")),
          TOC.encodeRequest(TOC.Request(tid, Group, pidOf(tid), 0, 7, "m-1", None,
            Seq(("txn_events", (0 until nP).map(p => TOC.ReqPartition(
              p, if (tid == "tx-a") perPartN(p).toLong - 2 else 999L, -1, None)))))),
          flexible = true)
        val (_, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = TOC.decodeRequest(body)
        req.topics.head._2.map(pt => (req.producerId, 1L, req.groupId,
          "txn_events", pt.partition, pt.offset, 1L))
      }.toDF("pid", "txn_seq", "group", "topic", "partition",
        "committed_offset", "commit_seq")
      val visible = graft.log.TxnEngine.commitTxOffsets(tocRows, log)
        .select("group", "topic", "partition", "committed_offset")
        .collect().map(r => (r.getInt(2), r.getLong(3))).toMap
      val txbInvisible = visible.values.forall(_ != 999L) && visible.size == nP
      // ---- layer 6: REST proxy consume from the committed offsets
      import graft.proxy.RestProxy
      val proxy = new RestProxy.Server(nPartitions = nP)
      proxy.createTopic("txn_out")
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val enc = java.util.Base64.getEncoder
      val dec = java.util.Base64.getDecoder
      val recs = fetched.sortBy(r => (r._1, r._2)).map { case (p, _, k, v) =>
        s"""{"partition":$p,"key":"${enc.encodeToString(k.getBytes("UTF-8"))}",""" +
          s""""value":"${enc.encodeToString(v.getBytes("UTF-8"))}"}"""
      }.mkString("[", ",", "]")
      val proxyOk = proxy.handle("POST", "/topics/txn_out",
        Some(s"""{"records":$recs}""")).status == 200
      val consumed = (0 until nP).flatMap { p =>
        val from = visible(p)
        val r = proxy.handle("GET",
          s"/topics/txn_out/partitions/$p/records?offset=$from")
        if (r.status != 200) Nil
        else {
          val a = m.readTree(r.body)
          (0 until a.size()).map { i =>
            val o = a.get(i)
            (p, o.get("offset").asLong(),
              new String(dec.decode(o.get("key").asText()), "UTF-8"),
              new String(dec.decode(o.get("value").asText()), "UTF-8"))
          }
        }
      }
      // hash-valued hops (round 17): the ingest, the read_committed cut,
      // the wire fetch, and the consumed tail each fold an
      // order-insensitive md5 payload sum into the chain — re-introducing
      // the round-16 txn_seq bug (aborted-range first offset served in
      // txn_seq) now flips h_committed/h_fetched red instead of hiding
      // behind equal counts
      val chain = s"pid_a=${pidOf("tx-a")},pid_b=${pidOf("tx-b")}," +
        s"init_ok=$initOk,ingested=$nIngested,txn_bits_ok=$txnBitsOk," +
        s"offsets_match=$offsetsMatch,ends_ok=$endsOk,committed=$nCommitted," +
        s"aborted_served=$nAbortedServed,iso_ok=$isoOk,txb_absent=$txbAbsent," +
        s"visible_groups=${visible.size},txb_invisible=$txbInvisible," +
        s"corr_ok=${fcorr == 120},proxy_ok=$proxyOk," +
        s"h_ingested=$hIngested," +
        s"h_committed=$hCommitted," +
        s"h_fetched=${hopHashRows(fetched)}," +
        s"h_consumed=${hopHashRows(consumed)}"
      consumed.map { case (p, o, k, v) => (p, o, k, v, chain) }
        .toDF("partition", "offset", "key", "value", "chain")
        .orderBy("partition", "offset")
    }),

    "sr_rest_api" -> ((s, dir) => {
      // The registry's REST protocol — the Confluent-compatible JSON
      // surface the reference serves (pandaproxy/schema_registry/
      // handlers.cc) — scripted end-to-end: register (global ids shared
      // across subjects, idempotent re-registration, 409 on
      // incompatible), reads (latest/by-version/by-id with the
      // 40401/40402/40403 ladder), soft→permanent delete
      // (40404/40405), and the compatibility probe. Each step's
      // `detail` is extracted from the parsed RESPONSE body.
      import s.implicits._
      import graft.registry.RestApi
      import com.fasterxml.jackson.databind.ObjectMapper
      val m = new ObjectMapper()
      def body(schema: String) = Some(s"""{"schema":${
        m.writeValueAsString(m.getNodeFactory.textNode(schema))}}""")
      val v1 = """{"type":"record","name":"Ev","fields":[{"name":"a","type":"string"}]}"""
      val v2 = """{"type":"record","name":"Ev","fields":[{"name":"a","type":"string"},{"name":"b","type":"int","default":0}]}"""
      val bad = """{"type":"record","name":"Ev","fields":[{"name":"a","type":"int"}]}"""
      val srv = new RestApi.Server()
      def jf(b: String, f: String): String = {
        val n = m.readTree(b).get(f)
        if (n == null) "" else n.asText()
      }
      val script: Seq[(String, String, Option[String], RestApi.Resp => String)] = Seq(
        ("POST", "/subjects/ev-value/versions", body(v1), r => "id=" + jf(r.body, "id")),
        ("POST", "/subjects/ev-value/versions", body(v1), r => "id=" + jf(r.body, "id")),
        ("POST", "/subjects/ev-value/versions", body(v2), r => "id=" + jf(r.body, "id")),
        ("POST", "/subjects/other-value/versions", body(v1), r => "id=" + jf(r.body, "id")),
        ("POST", "/subjects/ev-value/versions", body(bad), r => "error=" + jf(r.body, "error_code")),
        ("GET", "/subjects", None, r => "list=" + r.body),
        ("GET", "/subjects/ev-value/versions", None, r => "list=" + r.body),
        ("GET", "/subjects/ev-value/versions/latest", None,
          r => s"latest=${jf(r.body, "subject")}/${jf(r.body, "version")}/${jf(r.body, "id")}"),
        ("GET", "/schemas/ids/1", None,
          r => "name=" + m.readTree(jf(r.body, "schema")).get("name").asText()),
        ("GET", "/subjects/nope/versions", None, r => "error=" + jf(r.body, "error_code")),
        ("POST", "/compatibility/subjects/ev-value/versions/latest", body(v2),
          r => "compatible=" + jf(r.body, "is_compatible")),
        ("POST", "/compatibility/subjects/ev-value/versions/latest", body(bad),
          r => "compatible=" + jf(r.body, "is_compatible")),
        ("DELETE", "/subjects/other-value", None, r => "list=" + r.body),
        ("DELETE", "/subjects/other-value", None, r => "error=" + jf(r.body, "error_code")),
        ("DELETE", "/subjects/other-value?permanent=true", None, r => "list=" + r.body),
        ("GET", "/subjects", None, r => "list=" + r.body))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path, resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "sr_latest_schemas" -> ((s, dir) => {
      import s.implicits._
      val schemaLog = Seq(
        (1L, "events-value", 1, """{"type":"record"}"""),
        (2L, "events-value", 2, """{"type":"record-v2"}"""),
        (3L, "orders-value", 1, """{"type":"order"}"""),
        (4L, "events-key", 1, """{"type":"string"}"""))
        .toDF("seq", "subject", "version", "schema")
      graft.registry.SchemaRegistry.latestSchemas(schemaLog)
        .select("subject", "version", "schema").orderBy("subject")
    }),

    "sr_avro_decode" -> ((s, dir) => {
      // Registry-driven typed decode (record_schema_resolver.h +
      // schema_avro.cc): wire-framed payloads written under two schema
      // generations resolve per embedded id and project to the latest
      // reader schema — v1 rows surface `value` as the reader default
      // (null). Aggregates run on DECODED fields only; the oracle
      // re-derives them from the plaintext columns.
      val dec = graft.registry.AvroDecode.decode(
        avroLog(s, dir).select("value_bin"), "value_bin", AvroSchemasById, AvroV2)
      dec.groupBy(col("decoded.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("decoded.event_id")).as("sum_id"),
          count(col("decoded.value")).as("n_value"),
          sum(coalesce(round(col("decoded.value") * 100).cast("long"), lit(0L))).as("sum_cents"))
        .orderBy("event_type")
    }),

    "d2_avro_translation" -> ((s, dir) => {
      // D2 with a TYPED value: the decoded struct rides through the
      // default translator next to the redpanda system struct — the
      // datalake writer's schema-resolved path (schema_avro.cc →
      // record_translator.h), not stringly JSON extraction.
      val log = avroLog(s, dir)
      val dec = graft.registry.AvroDecode.decode(log, "value_bin", AvroSchemasById, AvroV2)
        .select(col("partition"), col("offset"), col("ts").as("timestamp"),
          array(struct(encode(lit("src"), "UTF-8").as("key"),
            encode(lit("avro"), "UTF-8").as("value"))).as("headers"),
          encode(col("user_id").cast("string"), "UTF-8").as("key"),
          col("decoded").as("value"))
      graft.streaming.Datalake.translateDefault(dec)
        .groupBy(col("value.event_type").as("h_type"))
        .agg(count(lit(1)).as("n"), max(col("redpanda.offset")).as("max_offset"),
          sum(col("value.event_id")).as("sum_id"),
          count(col("value.value")).as("n_value"))
        .orderBy("h_type")
    }),

    "sr_protobuf_decode" -> ((s, dir) => {
      // Registry-driven typed protobuf decode (schema_protobuf.cc): wire-
      // framed payloads under two descriptor generations — field 3
      // renamed (numbers carry identity) and a new sint64 the reader
      // skips — decode with the READER descriptor; unknown registry ids
      // yield null structs; absent scalars take proto3 defaults (value →
      // 0.0 where the producer sent nothing, missing → 0 everywhere).
      // Aggregates run on DECODED fields only; the oracle re-derives
      // them from the plaintext columns.
      val dec = graft.registry.ProtobufDecode.decode(
        protoLog(s, dir), "value_bin", ProtoSchemasById, ProtoReader)
      dec.groupBy(coalesce(col("decoded.event_type"), lit("__undecoded")).as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("decoded.event_id")).as("sum_id"),
          sum(round(col("decoded.value") * 100).cast("long")).as("sum_cents"),
          max(col("decoded.missing")).as("max_missing"))
        .orderBy("event_type")
    }),

    "sr_json_decode" -> ((s, dir) => {
      // Registry-driven typed JSON decode (the json.cc leg of §1.3):
      // two schema generations (v2 adds `value`), an unregistered id,
      // and a bad-magic slice — the reader StructType decodes all
      // registered frames via from_json (whole-stage codegen; no
      // kernel), v1 rows surface `value` as null, unregistered/corrupt
      // frames as null structs. Oracle re-derives from plaintext.
      import graft.registry.JsonDecode
      val log = eventLog(s, dir)
      val v1 = JsonDecode.encode(log.where(col("event_id") % 4 === 0),
        "value_bin", 40, col("event_id"), col("event_type"))
      val v2 = JsonDecode.encode(log.where(col("event_id") % 4 === 2),
        "value_bin", 41, col("event_id"), col("event_type"), col("value"))
      val unreg = JsonDecode.encode(log.where(col("event_id") % 4 === 1),
        "value_bin", 99, col("event_id"), col("event_type"))
      val badMagic = log.where(col("event_id") % 4 === 3)
        .withColumn("value_bin",
          concat(lit(Array[Byte](1, 0, 0, 0, 40)),
            encode(to_json(struct(col("event_id"))), "UTF-8")))
      val framed = v1.unionByName(v2).unionByName(unreg).unionByName(badMagic)
      val dec = JsonDecode.decode(framed, "value_bin", Seq(40, 41), JsonReaderSchema)
      dec.groupBy(coalesce(col("decoded.event_type"), lit("__undecoded")).as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("decoded.event_id")).as("sum_id"),
          count(col("decoded.value")).as("n_value"),
          sum(coalesce(round(col("decoded.value") * 100).cast("long"), lit(0L))).as("sum_cents"))
        .orderBy("event_type")
    }),

    "sr_protobuf_compat" -> ((s, dir) => {
      // Protobuf checker conformance corpus (protobuf.cc rules): field
      // numbers carry identity; wire-family widening OK, family/
      // cardinality changes and new required fields are breaking.
      import s.implicits._
      import graft.registry.ProtobufCompat.ProtobufChecker
      val base = "message E { optional int32 a = 1; optional string b = 2; }"
      val cases: Seq[(String, String, String)] = Seq(
        ("01_identity", base, base),
        ("02_widen_int32_to_int64",
          "message E { optional int64 a = 1; optional string b = 2; }", base),
        ("03_rename_field",
          "message E { optional int32 renamed = 1; optional string b = 2; }", base),
        ("04_reader_skips_writer_field",
          "message E { optional int32 a = 1; }", base),
        ("05_new_optional_field",
          "message E { optional int32 a = 1; optional string b = 2; optional bool c = 3; }", base),
        ("06_new_required_field",
          "message E { optional int32 a = 1; optional string b = 2; required bool c = 3; }", base),
        ("07_string_bytes_interchange",
          "message E { optional int32 a = 1; optional bytes b = 2; }", base),
        ("08_family_change_int_string",
          "message E { optional string a = 1; optional string b = 2; }", base),
        ("09_zigzag_not_varint",
          "message E { optional sint32 a = 1; optional string b = 2; }", base),
        ("10_repeated_flip",
          "message E { repeated int32 a = 1; optional string b = 2; }", base),
        ("11_nested_compatible",
          "message O { message N { optional int64 x = 1; } optional N m = 1; }",
          "message O { message N { optional int32 x = 1; } optional N m = 1; }"),
        ("12_nested_incompatible",
          "message O { message N { optional float x = 1; } optional N m = 1; }",
          "message O { message N { optional int32 x = 1; } optional N m = 1; }"))
      cases.map { case (nm, r, w) => (nm, ProtobufChecker.canRead(r, w)) }
        .toDF("case", "compatible").orderBy("case")
    }),

    "sr_json_bounds" -> ((s, dir) => {
      // JSON-schema constraint-bound conformance corpus
      // (json.cc:1124-1320 is_string_superset / is_numeric_superset /
      // array bounds): a reader bound may only RELAX what the writer
      // guarantees — tightening or ADDING a bound breaks; pattern must
      // be absent or string-identical; writer multipleOf must be an
      // integer multiple of the reader's; uniqueItems:true on the
      // reader needs the writer to guarantee it.
      import s.implicits._
      import graft.registry.SchemaRegistry.JsonChecker
      val wStr = """{"type":"string","minLength":2,"maxLength":10}"""
      val wNum = """{"type":"integer","minimum":0,"maximum":100,"multipleOf":4}"""
      val wArr = """{"type":"array","items":{"type":"integer"},"minItems":1,"maxItems":5,"uniqueItems":true}"""
      val cases: Seq[(String, String, String)] = Seq(
        ("01_length_relaxed",
          """{"type":"string","minLength":1,"maxLength":20}""", wStr),
        ("02_min_length_increased", """{"type":"string","minLength":3}""", wStr),
        ("03_max_length_added", """{"type":"string","maxLength":10}""",
          """{"type":"string"}"""),
        ("04_bounds_dropped", """{"type":"string"}""", wStr),
        ("05_pattern_identical",
          """{"type":"string","pattern":"^a+$"}""",
          """{"type":"string","pattern":"^a+$"}"""),
        ("06_pattern_changed",
          """{"type":"string","pattern":"^b+$"}""",
          """{"type":"string","pattern":"^a+$"}"""),
        ("07_numeric_relaxed",
          """{"type":"integer","minimum":-5,"maximum":200,"multipleOf":2}""", wNum),
        ("08_maximum_decreased", """{"type":"integer","maximum":50}""", wNum),
        ("09_multiple_of_changed", """{"type":"integer","multipleOf":3}""", wNum),
        ("10_minimum_added", """{"type":"integer","minimum":0}""",
          """{"type":"integer"}"""),
        ("11_array_relaxed",
          """{"type":"array","items":{"type":"integer"},"maxItems":10,"uniqueItems":true}""", wArr),
        ("12_unique_items_added",
          """{"type":"array","items":{"type":"integer"},"uniqueItems":true}""",
          """{"type":"array","items":{"type":"integer"}}"""))
      cases.map { case (nm, r, w) => (nm, JsonChecker.canRead(r, w)) }
        .toDF("case", "compatible").orderBy("case")
    }),

    "sr_json_combinators" -> ((s, dir) => {
      // Combinator / dependency / patternProperties / tuple-items
      // conformance corpus (json.cc:1852 is_not_combinator_superset,
      // :1903 is_positive_combinator_superset incl. the bipartite
      // subschema matching, :1653 is_object_dependencies_superset,
      // :1511 the patternProperties/additionalProperties property walk,
      // :1324 the tuple-form items branch, plus the exact-BigDecimal
      // multipleOf divisibility).
      import s.implicits._
      import graft.registry.SchemaRegistry.JsonChecker
      val i = """{"type":"integer"}"""
      val st = """{"type":"string"}"""
      val cases: Seq[(String, String, String)] = Seq(
        ("01_not_identical", s"""{"not":$st}""", s"""{"not":$st}"""),
        ("02_not_added", s"""{"not":$st}""", i),
        ("03_not_writer_stricter", s"""{"not":$st}""",
          """{"not":{"type":["string","integer"]}}"""),
        ("04_not_narrowed", """{"not":{"type":["string","integer"]}}""",
          s"""{"not":$st}"""),
        ("05_anyof_subset", s"""{"anyOf":[$i,$st,{"type":"boolean"}]}""",
          s"""{"anyOf":[$i,$st]}"""),
        ("06_sum_type_narrowed", s"""{"anyOf":[$i,$st]}""",
          s"""{"anyOf":[$i,$st,{"type":"boolean"}]}"""),
        ("07_allof_writer_stricter",
          """{"allOf":[{"type":"integer","minimum":0},{"type":"integer","maximum":10}]}""",
          """{"allOf":[{"type":"integer","minimum":0},{"type":"integer","maximum":10},{"type":"integer","multipleOf":2}]}"""),
        ("08_product_type_extended",
          s"""{"allOf":[$i,{"type":"integer","minimum":0},{"type":"integer","maximum":9}]}""",
          s"""{"allOf":[$i,{"type":"integer","minimum":0}]}"""),
        ("09_oneof_branch_dropped", s"""{"oneOf":[$i,$st]}""",
          s"""{"oneOf":[$st]}"""),
        ("10_mixed_single_single", s"""{"allOf":[$i]}""", s"""{"anyOf":[$i]}"""),
        ("11_single_vs_allof", s"""{"oneOf":[$i]}""",
          s"""{"allOf":[{"type":"integer","minimum":0},$i]}"""),
        ("12_mixed_combined_changed",
          s"""{"allOf":[$i,{"type":"integer","minimum":0}]}""",
          s"""{"anyOf":[$i,$st]}"""),
        ("13_combinator_dropped", s"""{"oneOf":[$i,$st]}""", i),
        ("14_anyof_reads_allof", s"""{"anyOf":[$i,$st]}""", s"""{"allOf":[$i]}"""),
        ("15_dep_array_kept",
          """{"type":"object","dependencies":{"a":["b"]}}""",
          """{"type":"object","dependencies":{"a":["b","c"]}}"""),
        ("16_dep_array_narrowed",
          """{"type":"object","dependencies":{"a":["b","c"]}}""",
          """{"type":"object","dependencies":{"a":["b"]}}"""),
        ("17_dep_added",
          """{"type":"object","dependencies":{"a":["b"]}}""",
          """{"type":"object"}"""),
        ("18_dep_schema_kept",
          """{"type":"object","dependencies":{"a":{"required":["b"]}}}""",
          """{"type":"object","dependencies":{"a":{"required":["b"]}}}"""),
        ("19_dep_schema_incompatible",
          s"""{"type":"object","dependencies":{"a":$i}}""",
          s"""{"type":"object","dependencies":{"a":$st}}"""),
        ("20_pattern_covers_new_prop",
          s"""{"type":"object","patternProperties":{"^x_":$i}}""",
          s"""{"type":"object","properties":{"x_a":$i}}"""),
        ("21_pattern_schema_mismatch",
          s"""{"type":"object","patternProperties":{"^x_":$i}}""",
          s"""{"type":"object","properties":{"x_a":$st}}"""),
        ("22_additional_schema_covers",
          s"""{"type":"object","additionalProperties":$i}""",
          s"""{"type":"object","properties":{"n":$i},"additionalProperties":$i}"""),
        ("23_additional_narrowed",
          s"""{"type":"object","additionalProperties":$i}""",
          """{"type":"object"}"""),
        ("24_closed_model_new_prop",
          s"""{"type":"object","properties":{"a":$i},"additionalProperties":false}""",
          s"""{"type":"object","properties":{"a":$i,"b":$i},"additionalProperties":false}"""),
        ("25_tuple_identical",
          s"""{"type":"array","items":[$i,$st],"additionalItems":false}""",
          s"""{"type":"array","items":[$i,$st],"additionalItems":false}"""),
        ("26_tuple_vs_array",
          s"""{"type":"array","items":[$i]}""",
          s"""{"type":"array","items":$i}"""),
        ("27_tuple_writer_longer_covered",
          s"""{"type":"array","items":[$i],"additionalItems":$i}""",
          s"""{"type":"array","items":[$i,$i],"additionalItems":$i}"""),
        ("28_tuple_excess_uncovered",
          s"""{"type":"array","items":[$i],"additionalItems":$i}""",
          s"""{"type":"array","items":[$i,$st],"additionalItems":$i}"""),
        ("29_tuple_reader_longer_covered",
          s"""{"type":"array","items":[$i,$st]}""",
          s"""{"type":"array","items":[$i],"additionalItems":$st}"""),
        ("30_multiple_of_decimal",
          """{"type":"number","multipleOf":0.01}""",
          """{"type":"number","multipleOf":0.07}"""),
        ("31_multiple_of_indivisible",
          """{"type":"number","multipleOf":0.02}""",
          """{"type":"number","multipleOf":0.07}"""),
        ("32_required_with_default",
          """{"type":"object","properties":{"a":{"type":"integer","default":5}},"required":["a"]}""",
          s"""{"type":"object","properties":{"a":$i}}"""),
        ("33_required_added",
          s"""{"type":"object","properties":{"a":$i},"required":["a"]}""",
          s"""{"type":"object","properties":{"a":$i}}"""))
      cases.map { case (nm, r, w) => (nm, JsonChecker.canRead(r, w)) }
        .toDF("case", "compatible").orderBy("case")
    }),

    "sr_proto_oneof_map" -> ((s, dir) => {
      // Oneof + map conformance corpus (protobuf.cc:553-645: the
      // writer-oneof member check driving oneof_field_removed, the
      // reader-oneof count driving multiple_fields_moved_to_oneof; map
      // fields compared structurally as entry types).
      import s.implicits._
      import graft.registry.ProtobufCompat.ProtobufChecker
      val plain = "message E { int32 a = 1; string b = 2; }"
      val oneofBoth = "message E { oneof alt { int32 a = 1; string b = 2; } }"
      val mapBase = "message E { map<string, int32> m = 1; }"
      val cases: Seq[(String, String, String)] = Seq(
        ("01_single_moved_into_oneof",
          "message E { oneof alt { int32 a = 1; } string b = 2; }", plain),
        ("02_two_moved_into_oneof", oneofBoth, plain),
        ("03_oneof_member_removed",
          "message E { oneof alt { int32 a = 1; } }", oneofBoth),
        ("04_whole_oneof_dropped", plain, oneofBoth),
        ("05_oneof_identity", oneofBoth, oneofBoth),
        ("06_members_in_other_oneofs",
          "message E { oneof other { int32 a = 1; } oneof alt2 { string b = 2; } }",
          oneofBoth),
        ("07_map_value_widen",
          "message E { map<string, int64> m = 1; }", mapBase),
        ("08_map_key_family_change",
          "message E { map<int32, int32> m = 1; }", mapBase),
        ("09_map_vs_scalar",
          "message E { optional string m = 1; }", mapBase),
        ("10_enum_reads_int32",
          "message E { enum Lvl { LOW = 0; HIGH = 1; } Lvl level = 1; }",
          "message E { int32 level = 1; }"),
        ("11_enum_vs_string",
          "message E { enum Lvl { LOW = 0; } Lvl level = 1; }",
          "message E { string level = 1; }"),
        ("12_enum_symbols_added",
          "message E { enum Lvl { LOW = 0; HIGH = 1; EXTRA = 2; } Lvl level = 1; }",
          "message E { enum Lvl { LOW = 0; HIGH = 1; } Lvl level = 1; }"))
      cases.map { case (nm, r, w) => (nm, ProtobufChecker.canRead(r, w)) }
        .toDF("case", "compatible").orderBy("case")
    }),

    "sr_proto_refs" -> ((s, dir) => {
      // Cross-subject protobuf references (types.h:105 schema_reference;
      // protobuf.cc:294 build_file_with_refs): events-proto imports
      // common.proto stored under its own subject, writer v1 and reader
      // v2 resolve through the store before any byte moves. The nested
      // Common message round-trips; reader-only `note` takes the proto3
      // default (empty → length 0). Oracle re-derives from plaintext.
      import s.implicits._
      import graft.registry.{ProtobufDecode, SchemaRefs}
      val schemaLog = Seq(
        (1L, "common-proto", 1, "PROTOBUF",
          "message Common { optional int64 tag = 1; optional string label = 2; }",
          Seq.empty[(String, String, Int)]),
        (2L, "events-proto", 1, "PROTOBUF",
          """import "common.proto";
            |message Ev { optional int64 event_id = 1;
            |  optional string event_type = 2; optional Common meta = 3; }""".stripMargin,
          Seq(("common.proto", "common-proto", 1))),
        (3L, "events-proto", 2, "PROTOBUF",
          """import "common.proto";
            |message Ev { optional int64 event_id = 1;
            |  optional string event_type = 2; optional Common meta = 3;
            |  optional string note = 4; }""".stripMargin,
          Seq(("common.proto", "common-proto", 1))))
        .toDF("seq", "subject", "version", "schema_type", "schema", "refs")
      val store = SchemaRefs.storeFromLog(schemaLog)
      val writer = SchemaRefs.resolveProtobuf(store, "events-proto", 1)
      val reader = SchemaRefs.resolveProtobuf(store, "events-proto", 2)
      val rows = T(s, dir, "events").select(
        col("event_id").cast("long").as("event_id"), col("event_type"),
        struct((col("event_id") * 3).cast("long").as("tag"),
          concat(lit("L"), pmod(col("user_id"), lit(10))).as("label")).as("meta"))
      val framed = ProtobufDecode.encodeResolved(rows, "value_bin", writer, schemaId = 21)
      ProtobufDecode.decodeResolved(framed.select("value_bin"), "value_bin",
          Map(21 -> writer), reader)
        .groupBy(col("decoded.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("decoded.event_id")).as("sum_id"),
          sum(col("decoded.meta.tag")).as("sum_tag"),
          max(col("decoded.meta.label")).as("max_label"),
          max(length(col("decoded.note"))).as("max_note_len"))
        .orderBy("event_type")
    }),

    "sr_avro_refs" -> ((s, dir) => {
      // Avro cross-subject named-type reference (avro.cc:558
      // collect_schema): orders-avro's record uses CommonMeta by NAME,
      // defined under the common-types subject — unparseable alone,
      // resolved deps-first into a self-contained schema. Reader v2's
      // nullable `note` defaults to null for every writer-v1 record.
      import s.implicits._
      import graft.registry.{AvroDecode, SchemaRefs}
      val common =
        """{"type":"record","name":"CommonMeta","fields":[
          |{"name":"tag","type":"long"},{"name":"label","type":"string"}]}""".stripMargin
      val schemaLog = Seq(
        (1L, "common-types", 1, "AVRO", common, Seq.empty[(String, String, Int)]),
        (2L, "orders-avro", 1, "AVRO",
          """{"type":"record","name":"Ev","fields":[
            |{"name":"event_id","type":"long"},{"name":"event_type","type":"string"},
            |{"name":"meta","type":"CommonMeta"}]}""".stripMargin,
          Seq(("CommonMeta", "common-types", 1))),
        (3L, "orders-avro", 2, "AVRO",
          """{"type":"record","name":"Ev","fields":[
            |{"name":"event_id","type":"long"},{"name":"event_type","type":"string"},
            |{"name":"meta","type":"CommonMeta"},
            |{"name":"note","type":["null","string"],"default":null}]}""".stripMargin,
          Seq(("CommonMeta", "common-types", 1))))
        .toDF("seq", "subject", "version", "schema_type", "schema", "refs")
      val store = SchemaRefs.storeFromLog(schemaLog)
      val writerJson = SchemaRefs.resolveAvro(store, "orders-avro", 1).toString
      val readerJson = SchemaRefs.resolveAvro(store, "orders-avro", 2).toString
      val rows = T(s, dir, "events").select(
        col("event_id").cast("long").as("event_id"), col("event_type"),
        struct((col("event_id") * 3).cast("long").as("tag"),
          concat(lit("L"), pmod(col("user_id"), lit(10))).as("label")).as("meta"))
      val framed = AvroDecode.encode(rows, "value_bin", writerJson, schemaId = 31)
      AvroDecode.decode(framed.select("value_bin"), "value_bin",
          Map(31 -> writerJson), readerJson)
        .groupBy(col("decoded.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("decoded.event_id")).as("sum_id"),
          sum(col("decoded.meta.tag")).as("sum_tag"),
          max(col("decoded.meta.label")).as("max_label"),
          count(col("decoded.note")).as("n_note"))
        .orderBy("event_type")
    }),

    "sr_subject_compat" -> ((s, dir) => {
      // Per-subject compatibility levels (store.h:579-618): the config
      // log sets global BACKWARD, overrides b-value NONE, c-value
      // FULL_TRANSITIVE, d-value FORWARD (cleared at seq 45 → later
      // registrations fall back to global). Registrations are gated
      // under the level in force at their seq against the subject's
      // ACCEPTED history. Oracle pins every decision.
      import s.implicits._
      import graft.registry.SchemaRegistry
      val configLog = Seq(
        (1L, null.asInstanceOf[String], "BACKWARD"),
        (2L, "b-value", "NONE"),
        (3L, "c-value", "FULL_TRANSITIVE"),
        (4L, "d-value", "FORWARD"),
        (45L, "d-value", null.asInstanceOf[String]))
        .toDF("seq", "subject", "level")
      def rec(fields: String*) =
        SchemaRegistry.parseAvro(
          s"""{"type":"record","name":"R","fields":[${fields.mkString(",")}]}""")
      val a = """{"name":"a","type":"long"}"""
      val aStr = """{"name":"a","type":"string"}"""
      val bDef = """{"name":"b","type":"string","default":"x"}"""
      val bNoDef = """{"name":"b","type":"string"}"""
      val cNoDef = """{"name":"c","type":"int"}"""
      val attempts = Seq(
        (10L, "a-value", rec(a)),            // first version: accept
        (11L, "a-value", rec(a, bDef)),      // backward, b defaulted: accept
        (12L, "a-value", rec(aStr)),         // long→string: reject
        (13L, "a-value", rec(a)),            // reader drops b: accept
        (20L, "b-value", rec(a)),
        (21L, "b-value", rec(aStr)),         // NONE: breaking accepted
        (30L, "c-value", rec(a)),
        (31L, "c-value", rec(a, bDef)),      // full both ways: accept
        (32L, "c-value", rec(a, cNoDef)),    // c lacks default: reject
        (40L, "d-value", rec(a)),
        (41L, "d-value", rec(a, bNoDef)),    // FORWARD tolerates no-default add
        (50L, "d-value", rec(a, bNoDef, cNoDef)), // post-clear BACKWARD: reject
        (51L, "d-value", rec(a, bNoDef)))    // identity vs latest: accept
      val configs = SchemaRegistry.compatibilityConfigs(configLog)
      SchemaRegistry.registerChain(configs, attempts)
        .toDF("seq", "subject", "level", "accepted", "version")
        // -1 for rejected: a nullable int turns float64 in the driver's
        // pandas hasher (same canonicalization trap as sec_oidc_auth)
        .withColumn("version", coalesce(col("version"), lit(-1)))
        .orderBy("seq")
    }),

    "sr_json_refs" -> ((s, dir) => {
      // JSON $ref resolution through registry references (json.cc
      // bundled-schema map ≙ the reference list): person's schema TEXT
      // never changes between v1 and v2 — only its addr ref re-pins to
      // a version that TIGHTENS city's minLength (a reader-added bound,
      // json.cc min_length_increased — required-added alone wouldn't
      // flip: is_object_required_superset:1623-1630 only examines
      // properties declared on BOTH sides), so read-compatibility flips
      // purely through reference resolution, two levels deep for team.
      import s.implicits._
      import graft.registry.{SchemaRefs, JsonSchemaCompat}
      import graft.registry.SchemaRefs.{SchemaRef, StoredSchema}
      val addr1 = """{"type":"object","properties":{"city":{"type":"string"}}}"""
      val addr2 =
        """{"type":"object","properties":{"city":{"type":"string","minLength":1},
          |"zip":{"type":"string"}},"required":["zip"]}""".stripMargin
      val person = // same text for both versions — only the ref moves
        """{"type":"object","properties":{"name":{"type":"string"},
          |"home":{"$ref":"addr.json"}}}""".stripMargin
      val team =
        """{"type":"object","properties":{"lead":{"$ref":"person.json"}},
          |"required":["lead"]}""".stripMargin
      val store: SchemaRefs.Store = Map(
        ("addr", 1) -> StoredSchema("addr", 1, "JSON", addr1, Nil),
        ("addr", 2) -> StoredSchema("addr", 2, "JSON", addr2, Nil),
        ("person", 1) -> StoredSchema("person", 1, "JSON", person,
          Seq(SchemaRef("addr.json", "addr", 1))),
        ("person", 2) -> StoredSchema("person", 2, "JSON", person,
          Seq(SchemaRef("addr.json", "addr", 2))),
        ("team", 1) -> StoredSchema("team", 1, "JSON", team,
          Seq(SchemaRef("person.json", "person", 1))),
        ("team", 2) -> StoredSchema("team", 2, "JSON", team,
          Seq(SchemaRef("person.json", "person", 2))))
      def res(sub: String, v: Int) = SchemaRefs.resolveJson(store, sub, v)
      Seq(
        ("01_team_selfcontained", !res("team", 1).contains("$ref")),
        ("02_person_v2_reads_v1",
          JsonSchemaCompat.canRead(res("person", 2), res("person", 1))),
        ("03_person_v1_reads_v2",
          JsonSchemaCompat.canRead(res("person", 1), res("person", 2))),
        ("04_team_v1_reads_v2",
          JsonSchemaCompat.canRead(res("team", 1), res("team", 2))),
        ("05_team_v2_reads_v1",
          JsonSchemaCompat.canRead(res("team", 2), res("team", 1))))
        .toDF("case", "compatible").orderBy("case")
    }),

    "sr_subject_mode" -> ((s, dir) => {
      // Registry mode store (types.h:45 import/read_only/read_write;
      // store.h get_mode with global fallback): READONLY refuses the
      // write BEFORE any compatibility check, IMPORT admits, a cleared
      // override falls back to the global READWRITE. Oracle pins every
      // decision.
      import s.implicits._
      import graft.registry.SchemaRegistry
      val modeLog = Seq(
        (1L, null.asInstanceOf[String], "READWRITE"),
        (2L, "frozen-value", "READONLY"),
        (3L, "import-value", "IMPORT"),
        (8L, "frozen-value", null.asInstanceOf[String]))
        .toDF("seq", "subject", "mode")
      def rec(fields: String*) =
        SchemaRegistry.parseAvro(
          s"""{"type":"record","name":"R","fields":[${fields.mkString(",")}]}""")
      val a = """{"name":"a","type":"long"}"""
      val attempts = Seq(
        (4L, "a-value", rec(a)),
        (5L, "frozen-value", rec(a)),                          // readonly
        (6L, "import-value", rec(a)),                          // import admits
        (7L, "a-value", rec("""{"name":"a","type":"string"}""")), // incompatible
        (9L, "frozen-value", rec(a)))                          // post-clear: accepted
      SchemaRegistry.registerChainWithModes(
          Nil, SchemaRegistry.modeConfigs(modeLog), attempts)
        .toDF("seq", "subject", "mode", "level", "outcome", "version")
        .withColumn("version", coalesce(col("version"), lit(-1)))
        .orderBy("seq")
    }),
  )

  def oracleSql: Map[String, String] = Map(

    "p5_schema_validation" ->
      """SELECT CASE WHEN user_id % 10 <= 7 THEN 'valid' ELSE 'invalid_schema_id' END AS route,
        |       CAST(user_id % 10 AS INTEGER) AS schema_id, count(*) AS n
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p6_crc_validation" ->
      """SELECT CASE WHEN event_id % 97 = 0 THEN 'corrupt' ELSE 'valid' END AS route,
        |       count(*) AS n
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Wire-envelope golden: base_offset / record_count / batch_length /
    // wire_bytes re-derived from the raw events INCLUDING every
    // zigzag-varint length (vl(x) = bytes of varint(zigzag(x)) for
    // x >= 0: 1 + floor(log2(2x)/7)); header constants per
    // kafka_batch_adapter.h:25-41 (61-byte header, batchLength counts
    // bytes after its own field -> 49 + records). The round-trip
    // invariants (magic 2, CRC valid, re-encode byte-identical,
    // decoded records == inputs) are pinned TRUE.
    "p6_batch_roundtrip" -> {
      def vl(e: String) =
        s"(CASE WHEN ($e) = 0 THEN 1 ELSE CAST(floor(log2(CAST(2 * ($e) AS DOUBLE)) / 7) AS BIGINT) + 1 END)"
      val body = s"1 + ${vl("event_id - first_ts")} + ${vl("\"offset\" - base_offset")}" +
        s" + ${vl("strlen(CAST(user_id AS VARCHAR))")} + strlen(CAST(user_id AS VARCHAR))" +
        s" + ${vl("strlen(event_type)")} + strlen(event_type) + 1"
      s"""WITH log AS (
         |  SELECT CAST(user_id % 8 AS BIGINT) AS partition,
         |         CAST(row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS BIGINT) AS "offset",
         |         event_id, user_id, event_type
         |  FROM events),
         | r AS (SELECT *, "offset" // 200 AS batch_no,
         |         min("offset") OVER (PARTITION BY partition, "offset" // 200) AS base_offset,
         |         min(event_id) OVER (PARTITION BY partition, "offset" // 200) AS first_ts
         |   FROM log),
         | sz AS (SELECT partition, batch_no, base_offset,
         |     ($body) AS rec_body
         |   FROM r),
         | g AS (SELECT partition, batch_no, min(base_offset) AS base_offset,
         |     CAST(count(*) AS INT) AS record_count,
         |     CAST(49 + SUM(${vl("rec_body")} + rec_body) AS INT) AS batch_length,
         |     CAST(61 + SUM(${vl("rec_body")} + rec_body) AS INT) AS wire_bytes
         |   FROM sz GROUP BY 1, 2)
         | SELECT partition, batch_no, base_offset, record_count, batch_length,
         |        wire_bytes, CAST(2 AS INT) AS magic, TRUE AS crc_valid,
         |        TRUE AS dense_delta, TRUE AS bytes_match, TRUE AS fields_match
         | FROM g ORDER BY partition, batch_no""".stripMargin
    },

    // Per-codec invariants pinned; n_batches re-derived from the raw
    // events (count of (partition, 200-offset) groups). Compressed
    // byte sizes are codec-implementation detail, so `smaller` is the
    // contract, not the exact count.
    "p6_batch_compressed" ->
      """WITH log AS (
        |  SELECT user_id % 8 AS partition,
        |         row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS "offset"
        |  FROM events WHERE user_id % 8 < 2),
        | nb AS (SELECT CAST(count(DISTINCT (partition, "offset" // 200)) AS BIGINT) AS n
        |   FROM log)
        | SELECT c.codec, nb.n AS n_batches, TRUE AS crc_ok,
        |        TRUE AS records_match, TRUE AS attr_ok,
        |        (c.codec <> '0_none') AS smaller
        | FROM (VALUES ('0_none'), ('1_gzip'), ('2_snappy'), ('3_lz4'), ('4_zstd')) c(codec),
        |      nb
        | ORDER BY c.codec""".stripMargin,

    // Golden invariants all hold by construction; n_batches re-derived
    // from the raw events as in p6_batch_compressed.
    "p6_batch_normalize" ->
      """WITH log AS (
        |  SELECT user_id % 8 AS partition,
        |         row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS "offset"
        |  FROM events WHERE user_id % 8 < 2),
        | nb AS (SELECT CAST(count(DISTINCT (partition, "offset" // 200)) AS BIGINT) AS n
        |   FROM log)
        | SELECT c.codec, nb.n AS n_batches, TRUE AS norm_eq_plain,
        |        TRUE AS recompress_bits, TRUE AS recompress_records,
        |        TRUE AS passthrough
        | FROM (VALUES ('1_gzip'), ('2_snappy'), ('3_lz4'), ('4_zstd')) c(codec), nb
        | ORDER BY c.codec""".stripMargin,

    // Byte-size laws of the framing codecs, recomputed from first
    // principles: v0 = err(2) + count(4) + n*6; v1/v2 append
    // throttle(4); v3 = err(2) + uvarint(n+1)(1 for n<127) + n*(6 +
    // 1 tag buffer) + throttle(4) + body tags(1). Frame adds
    // size(4) + correlation(4); ApiVersions' response header stays v0.
    // Golden pin of the big-six version matrix (requests AND
    // responses): every version's exact byte size and version-visible
    // field set (schemata gates).
    "p6_wire_versions" ->
      """SELECT * FROM (VALUES
        |  ('fetch', 0, 60, 'max=2147483647|iso=0|session=0:-1|epoch=-1|lso=-1|forgot=0|rack='),
        |  ('fetch', 1, 60, 'max=2147483647|iso=0|session=0:-1|epoch=-1|lso=-1|forgot=0|rack='),
        |  ('fetch', 2, 60, 'max=2147483647|iso=0|session=0:-1|epoch=-1|lso=-1|forgot=0|rack='),
        |  ('fetch', 3, 64, 'max=52428800|iso=0|session=0:-1|epoch=-1|lso=-1|forgot=0|rack='),
        |  ('fetch', 4, 65, 'max=52428800|iso=1|session=0:-1|epoch=-1|lso=-1|forgot=0|rack='),
        |  ('fetch', 5, 81, 'max=52428800|iso=1|session=0:-1|epoch=-1|lso=7|forgot=0|rack='),
        |  ('fetch', 6, 81, 'max=52428800|iso=1|session=0:-1|epoch=-1|lso=7|forgot=0|rack='),
        |  ('fetch', 7, 112, 'max=52428800|iso=1|session=77:3|epoch=-1|lso=7|forgot=1|rack='),
        |  ('fetch', 8, 112, 'max=52428800|iso=1|session=77:3|epoch=-1|lso=7|forgot=1|rack='),
        |  ('fetch', 9, 120, 'max=52428800|iso=1|session=77:3|epoch=5|lso=7|forgot=1|rack='),
        |  ('fetch', 10, 120, 'max=52428800|iso=1|session=77:3|epoch=5|lso=7|forgot=1|rack='),
        |  ('fetch', 11, 128, 'max=52428800|iso=1|session=77:3|epoch=5|lso=7|forgot=1|rack=rack-1'),
        |  ('fetch_resp', 0, 98, 'throttle=0|session=0|lso=-1|logstart=-1|aborted=-1|replica=-1|recs=64'),
        |  ('fetch_resp', 1, 102, 'throttle=5|session=0|lso=-1|logstart=-1|aborted=-1|replica=-1|recs=64'),
        |  ('fetch_resp', 2, 102, 'throttle=5|session=0|lso=-1|logstart=-1|aborted=-1|replica=-1|recs=64'),
        |  ('fetch_resp', 3, 102, 'throttle=5|session=0|lso=-1|logstart=-1|aborted=-1|replica=-1|recs=64'),
        |  ('fetch_resp', 4, 130, 'throttle=5|session=0|lso=90|logstart=-1|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 5, 138, 'throttle=5|session=0|lso=90|logstart=3|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 6, 138, 'throttle=5|session=0|lso=90|logstart=3|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 7, 144, 'throttle=5|session=77|lso=90|logstart=3|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 8, 144, 'throttle=5|session=77|lso=90|logstart=3|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 9, 144, 'throttle=5|session=77|lso=90|logstart=3|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 10, 144, 'throttle=5|session=77|lso=90|logstart=3|aborted=1|replica=-1|recs=64'),
        |  ('fetch_resp', 11, 148, 'throttle=5|session=77|lso=90|logstart=3|aborted=1|replica=2|recs=64'),
        |  ('join_group', 0, 63, 'rebalance=-1|inst=|protos=2'),
        |  ('join_group', 1, 67, 'rebalance=60000|inst=|protos=2'),
        |  ('join_group', 2, 67, 'rebalance=60000|inst=|protos=2'),
        |  ('join_group', 3, 67, 'rebalance=60000|inst=|protos=2'),
        |  ('join_group', 4, 67, 'rebalance=60000|inst=|protos=2'),
        |  ('join_group', 5, 75, 'rebalance=60000|inst=inst-1|protos=2'),
        |  ('join_group', 6, 63, 'rebalance=60000|inst=inst-1|protos=2'),
        |  ('join_group_resp', 0, 44, 'throttle=0|gen=3|proto=range|inst='),
        |  ('join_group_resp', 1, 44, 'throttle=0|gen=3|proto=range|inst='),
        |  ('join_group_resp', 2, 48, 'throttle=5|gen=3|proto=range|inst='),
        |  ('join_group_resp', 3, 48, 'throttle=5|gen=3|proto=range|inst='),
        |  ('join_group_resp', 4, 48, 'throttle=5|gen=3|proto=range|inst='),
        |  ('join_group_resp', 5, 56, 'throttle=5|gen=3|proto=range|inst=inst-1'),
        |  ('join_group_resp', 6, 47, 'throttle=5|gen=3|proto=range|inst=inst-1'),
        |  ('list_offsets', 0, 52, 'iso=0|epoch=-1|maxnum=1'),
        |  ('list_offsets', 1, 44, 'iso=0|epoch=-1|maxnum=0'),
        |  ('list_offsets', 2, 45, 'iso=1|epoch=-1|maxnum=0'),
        |  ('list_offsets', 3, 45, 'iso=1|epoch=-1|maxnum=0'),
        |  ('list_offsets', 4, 53, 'iso=1|epoch=5|maxnum=0'),
        |  ('list_offsets', 5, 53, 'iso=1|epoch=5|maxnum=0'),
        |  ('list_offsets_resp', 0, 42, 'throttle=0|old=2|off=-1|epoch=-1'),
        |  ('list_offsets_resp', 1, 38, 'throttle=0|old=0|off=42|epoch=-1'),
        |  ('list_offsets_resp', 2, 42, 'throttle=5|old=0|off=42|epoch=-1'),
        |  ('list_offsets_resp', 3, 42, 'throttle=5|old=0|off=42|epoch=-1'),
        |  ('list_offsets_resp', 4, 46, 'throttle=5|old=0|off=42|epoch=3'),
        |  ('list_offsets_resp', 5, 46, 'throttle=5|old=0|off=42|epoch=3'),
        |  ('metadata', 0, 19, 'topics=2|auto=true|ops=false'),
        |  ('metadata', 1, 19, 'topics=2|auto=true|ops=false'),
        |  ('metadata', 2, 19, 'topics=2|auto=true|ops=false'),
        |  ('metadata', 3, 19, 'topics=2|auto=true|ops=false'),
        |  ('metadata', 4, 20, 'topics=2|auto=false|ops=false'),
        |  ('metadata', 5, 20, 'topics=2|auto=false|ops=false'),
        |  ('metadata', 6, 20, 'topics=2|auto=false|ops=false'),
        |  ('metadata', 7, 20, 'topics=2|auto=false|ops=false'),
        |  ('metadata', 8, 22, 'topics=2|auto=false|ops=true'),
        |  ('metadata', 9, 20, 'topics=2|auto=false|ops=true'),
        |  ('metadata_resp', 0, 88, 'throttle=0|rack=|cluster=|epoch=-1|offline=0|ops=-2147483648'),
        |  ('metadata_resp', 1, 99, 'throttle=0|rack=r0|cluster=|epoch=-1|offline=0|ops=-2147483648'),
        |  ('metadata_resp', 2, 110, 'throttle=0|rack=r0|cluster=cluster-1|epoch=-1|offline=0|ops=-2147483648'),
        |  ('metadata_resp', 3, 114, 'throttle=5|rack=r0|cluster=cluster-1|epoch=-1|offline=0|ops=-2147483648'),
        |  ('metadata_resp', 4, 114, 'throttle=5|rack=r0|cluster=cluster-1|epoch=-1|offline=0|ops=-2147483648'),
        |  ('metadata_resp', 5, 122, 'throttle=5|rack=r0|cluster=cluster-1|epoch=-1|offline=1|ops=-2147483648'),
        |  ('metadata_resp', 6, 122, 'throttle=5|rack=r0|cluster=cluster-1|epoch=-1|offline=1|ops=-2147483648'),
        |  ('metadata_resp', 7, 126, 'throttle=5|rack=r0|cluster=cluster-1|epoch=3|offline=1|ops=-2147483648'),
        |  ('metadata_resp', 8, 134, 'throttle=5|rack=r0|cluster=cluster-1|epoch=3|offline=1|ops=2044'),
        |  ('metadata_resp', 9, 115, 'throttle=5|rack=r0|cluster=cluster-1|epoch=3|offline=1|ops=2044'),
        |  ('offset_commit', 0, 49, 'gen=-1|member=|inst=|ret=-1|epoch=-1|ts=-1'),
        |  ('offset_commit', 1, 74, 'gen=7|member=m-1|inst=|ret=-1|epoch=-1|ts=1700000000000'),
        |  ('offset_commit', 2, 66, 'gen=7|member=m-1|inst=|ret=86400000|epoch=-1|ts=-1'),
        |  ('offset_commit', 3, 66, 'gen=7|member=m-1|inst=|ret=86400000|epoch=-1|ts=-1'),
        |  ('offset_commit', 4, 66, 'gen=7|member=m-1|inst=|ret=86400000|epoch=-1|ts=-1'),
        |  ('offset_commit', 5, 58, 'gen=7|member=m-1|inst=|ret=-1|epoch=-1|ts=-1'),
        |  ('offset_commit', 6, 66, 'gen=7|member=m-1|inst=|ret=-1|epoch=5|ts=-1'),
        |  ('offset_commit', 7, 74, 'gen=7|member=m-1|inst=inst-1|ret=-1|epoch=5|ts=-1'),
        |  ('offset_commit', 8, 66, 'gen=7|member=m-1|inst=inst-1|ret=-1|epoch=5|ts=-1'),
        |  ('offset_commit_resp', 0, 28, 'throttle=0|errs=0,16'),
        |  ('offset_commit_resp', 1, 28, 'throttle=0|errs=0,16'),
        |  ('offset_commit_resp', 2, 28, 'throttle=0|errs=0,16'),
        |  ('offset_commit_resp', 3, 32, 'throttle=5|errs=0,16'),
        |  ('offset_commit_resp', 4, 32, 'throttle=5|errs=0,16'),
        |  ('offset_commit_resp', 5, 32, 'throttle=5|errs=0,16'),
        |  ('offset_commit_resp', 6, 32, 'throttle=5|errs=0,16'),
        |  ('offset_commit_resp', 7, 32, 'throttle=5|errs=0,16'),
        |  ('offset_commit_resp', 8, 29, 'throttle=5|errs=0,16'),
        |  ('produce', 0, 158, 'tid=|recs=120'),
        |  ('produce', 1, 158, 'tid=|recs=120'),
        |  ('produce', 2, 158, 'tid=|recs=120'),
        |  ('produce', 3, 165, 'tid=txn-1|recs=120'),
        |  ('produce', 4, 165, 'tid=txn-1|recs=120'),
        |  ('produce', 5, 165, 'tid=txn-1|recs=120'),
        |  ('produce', 6, 165, 'tid=txn-1|recs=120'),
        |  ('produce', 7, 165, 'tid=txn-1|recs=120'),
        |  ('produce', 8, 165, 'tid=txn-1|recs=120'),
        |  ('produce_resp', 0, 30, 'throttle=0|lat=-1|lso=-1|recerrs=0|msg='),
        |  ('produce_resp', 1, 34, 'throttle=5|lat=-1|lso=-1|recerrs=0|msg='),
        |  ('produce_resp', 2, 42, 'throttle=5|lat=1700000000000|lso=-1|recerrs=0|msg='),
        |  ('produce_resp', 3, 42, 'throttle=5|lat=1700000000000|lso=-1|recerrs=0|msg='),
        |  ('produce_resp', 4, 42, 'throttle=5|lat=1700000000000|lso=-1|recerrs=0|msg='),
        |  ('produce_resp', 5, 50, 'throttle=5|lat=1700000000000|lso=7|recerrs=0|msg='),
        |  ('produce_resp', 6, 50, 'throttle=5|lat=1700000000000|lso=7|recerrs=0|msg='),
        |  ('produce_resp', 7, 50, 'throttle=5|lat=1700000000000|lso=7|recerrs=0|msg='),
        |  ('produce_resp', 8, 69, 'throttle=5|lat=1700000000000|lso=7|recerrs=1|msg=oops'),
        |  ('offset_fetch', 0, 28, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 1, 28, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 2, 28, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 3, 28, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 4, 28, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 5, 28, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 6, 22, 'stable=false|groups=1|parts=2'),
        |  ('offset_fetch', 7, 23, 'stable=true|groups=1|parts=2'),
        |  ('offset_fetch', 8, 25, 'stable=true|groups=1|parts=2'),
        |  ('offset_fetch_resp', 0, 33, 'throttle=0|epoch=-1|gid='),
        |  ('offset_fetch_resp', 1, 33, 'throttle=0|epoch=-1|gid='),
        |  ('offset_fetch_resp', 2, 35, 'throttle=0|epoch=-1|gid='),
        |  ('offset_fetch_resp', 3, 39, 'throttle=5|epoch=-1|gid='),
        |  ('offset_fetch_resp', 4, 39, 'throttle=5|epoch=-1|gid='),
        |  ('offset_fetch_resp', 5, 43, 'throttle=5|epoch=3|gid='),
        |  ('offset_fetch_resp', 6, 38, 'throttle=5|epoch=3|gid='),
        |  ('offset_fetch_resp', 7, 38, 'throttle=5|epoch=3|gid='),
        |  ('offset_fetch_resp', 8, 43, 'throttle=5|epoch=3|gid=cg'),
        |  ('find_coordinator', 0, 4, 'type=0|keys=cg'),
        |  ('find_coordinator', 1, 5, 'type=1|keys=cg'),
        |  ('find_coordinator', 2, 5, 'type=1|keys=cg'),
        |  ('find_coordinator', 3, 5, 'type=1|keys=cg'),
        |  ('find_coordinator', 4, 6, 'type=1|keys=cg'),
        |  ('find_coordinator_resp', 0, 18, 'throttle=0|key=|node=2|msg='),
        |  ('find_coordinator_resp', 1, 26, 'throttle=5|key=|node=2|msg=ok'),
        |  ('find_coordinator_resp', 2, 26, 'throttle=5|key=|node=2|msg=ok'),
        |  ('find_coordinator_resp', 3, 25, 'throttle=5|key=|node=2|msg=ok'),
        |  ('find_coordinator_resp', 4, 30, 'throttle=5|key=cg|node=2|msg=ok'),
        |  ('sync_group', 0, 34, 'inst=|proto=|assigns=1'),
        |  ('sync_group', 1, 34, 'inst=|proto=|assigns=1'),
        |  ('sync_group', 2, 34, 'inst=|proto=|assigns=1'),
        |  ('sync_group', 3, 42, 'inst=inst-1|proto=|assigns=1'),
        |  ('sync_group', 4, 34, 'inst=inst-1|proto=|assigns=1'),
        |  ('sync_group', 5, 49, 'inst=inst-1|proto=range|assigns=1'),
        |  ('sync_group_resp', 0, 14, 'throttle=0|proto=|asg=8'),
        |  ('sync_group_resp', 1, 18, 'throttle=5|proto=|asg=8'),
        |  ('sync_group_resp', 2, 18, 'throttle=5|proto=|asg=8'),
        |  ('sync_group_resp', 3, 18, 'throttle=5|proto=|asg=8'),
        |  ('sync_group_resp', 4, 16, 'throttle=5|proto=|asg=8'),
        |  ('sync_group_resp', 5, 31, 'throttle=5|proto=range|asg=8'),
        |  ('heartbeat', 0, 13, 'gen=7|inst='),
        |  ('heartbeat', 1, 13, 'gen=7|inst='),
        |  ('heartbeat', 2, 13, 'gen=7|inst='),
        |  ('heartbeat', 3, 21, 'gen=7|inst=inst-1'),
        |  ('heartbeat', 4, 19, 'gen=7|inst=inst-1'),
        |  ('leave_group', 0, 9, 'inst=|reason=|members=1'),
        |  ('leave_group', 1, 9, 'inst=|reason=|members=1'),
        |  ('leave_group', 2, 9, 'inst=|reason=|members=1'),
        |  ('leave_group', 3, 21, 'inst=inst-1|reason=|members=1'),
        |  ('leave_group', 4, 17, 'inst=inst-1|reason=|members=1'),
        |  ('leave_group', 5, 21, 'inst=inst-1|reason=bye|members=1'),
        |  ('leave_group_resp', 0, 2, 'throttle=0|members=0'),
        |  ('leave_group_resp', 1, 6, 'throttle=5|members=0'),
        |  ('leave_group_resp', 2, 6, 'throttle=5|members=0'),
        |  ('leave_group_resp', 3, 25, 'throttle=5|members=1'),
        |  ('leave_group_resp', 4, 22, 'throttle=5|members=1'),
        |  ('leave_group_resp', 5, 22, 'throttle=5|members=1'),
        |  ('api_versions', 0, 0, 'name=|ver='),
        |  ('api_versions', 1, 0, 'name=|ver='),
        |  ('api_versions', 2, 0, 'name=|ver='),
        |  ('api_versions', 3, 11, 'name=rpk|ver=v25.1'),
        |  ('init_producer_id', 0, 11, 'tid=txn-1|pid=-1|epoch=-1'),
        |  ('init_producer_id', 1, 11, 'tid=txn-1|pid=-1|epoch=-1'),
        |  ('init_producer_id', 2, 11, 'tid=txn-1|pid=-1|epoch=-1'),
        |  ('init_producer_id', 3, 21, 'tid=txn-1|pid=9|epoch=1'),
        |  ('init_producer_id', 4, 21, 'tid=txn-1|pid=9|epoch=1'),
        |  ('init_producer_id', 5, 21, 'tid=txn-1|pid=9|epoch=1'),
        |  ('init_producer_id_resp', 0, 16, 'throttle=5|pid=9'),
        |  ('init_producer_id_resp', 1, 16, 'throttle=5|pid=9'),
        |  ('init_producer_id_resp', 2, 17, 'throttle=5|pid=9'),
        |  ('init_producer_id_resp', 3, 17, 'throttle=5|pid=9'),
        |  ('init_producer_id_resp', 4, 17, 'throttle=5|pid=9'),
        |  ('init_producer_id_resp', 5, 17, 'throttle=5|pid=9'),
        |  ('add_partitions_txn', 0, 41, 'tid=txn-1|verify=false|parts=2'),
        |  ('add_partitions_txn', 1, 41, 'tid=txn-1|verify=false|parts=2'),
        |  ('add_partitions_txn', 2, 41, 'tid=txn-1|verify=false|parts=2'),
        |  ('add_partitions_txn', 3, 35, 'tid=txn-1|verify=false|parts=2'),
        |  ('add_partitions_txn', 4, 38, 'tid=txn-1|verify=true|parts=2'),
        |  ('add_partitions_txn', 5, 38, 'tid=txn-1|verify=true|parts=2'),
        |  ('add_partitions_txn_resp', 0, 32, 'throttle=5|tid=|errs=0,16'),
        |  ('add_partitions_txn_resp', 1, 32, 'throttle=5|tid=|errs=0,16'),
        |  ('add_partitions_txn_resp', 2, 32, 'throttle=5|tid=|errs=0,16'),
        |  ('add_partitions_txn_resp', 3, 29, 'throttle=5|tid=|errs=0,16'),
        |  ('add_partitions_txn_resp', 4, 39, 'throttle=5|tid=txn-1|errs=0,16'),
        |  ('add_partitions_txn_resp', 5, 39, 'throttle=5|tid=txn-1|errs=0,16'),
        |  ('add_offsets_txn', 0, 21, 'tid=txn-1|group=cg'),
        |  ('add_offsets_txn', 1, 21, 'tid=txn-1|group=cg'),
        |  ('add_offsets_txn', 2, 21, 'tid=txn-1|group=cg'),
        |  ('add_offsets_txn', 3, 20, 'tid=txn-1|group=cg'),
        |  ('add_offsets_txn', 4, 20, 'tid=txn-1|group=cg'),
        |  ('end_txn', 0, 18, 'tid=txn-1|committed=true'),
        |  ('end_txn', 1, 18, 'tid=txn-1|committed=true'),
        |  ('end_txn', 2, 18, 'tid=txn-1|committed=true'),
        |  ('end_txn', 3, 18, 'tid=txn-1|committed=true'),
        |  ('end_txn', 4, 18, 'tid=txn-1|committed=true'),
        |  ('end_txn_resp', 0, 6, 'throttle=5'),
        |  ('end_txn_resp', 1, 6, 'throttle=5'),
        |  ('end_txn_resp', 2, 6, 'throttle=5'),
        |  ('end_txn_resp', 3, 7, 'throttle=5'),
        |  ('end_txn_resp', 4, 7, 'throttle=5'),
        |  ('txn_offset_commit', 0, 52, 'gen=-1|member=|inst=|epoch=-1'),
        |  ('txn_offset_commit', 1, 52, 'gen=-1|member=|inst=|epoch=-1'),
        |  ('txn_offset_commit', 2, 56, 'gen=-1|member=|inst=|epoch=5'),
        |  ('txn_offset_commit', 3, 64, 'gen=7|member=m-1|inst=inst-1|epoch=5'),
        |  ('txn_offset_commit', 4, 64, 'gen=7|member=m-1|inst=inst-1|epoch=5'),
        |  ('txn_offset_commit_resp', 0, 26, 'throttle=5|errs=0'),
        |  ('txn_offset_commit_resp', 1, 26, 'throttle=5|errs=0'),
        |  ('txn_offset_commit_resp', 2, 26, 'throttle=5|errs=0'),
        |  ('txn_offset_commit_resp', 3, 22, 'throttle=5|errs=0'),
        |  ('txn_offset_commit_resp', 4, 22, 'throttle=5|errs=0'),
        |  ('delete_records', 0, 44, 'timeout=30000|parts=2'),
        |  ('delete_records', 1, 44, 'timeout=30000|parts=2'),
        |  ('delete_records', 2, 41, 'timeout=30000|parts=2'),
        |  ('delete_records_resp', 0, 34, 'throttle=5|lwm=10'),
        |  ('delete_records_resp', 1, 34, 'throttle=5|lwm=10'),
        |  ('delete_records_resp', 2, 30, 'throttle=5|lwm=10'),
        |  ('sasl_handshake', 0, 15, 'mech=SCRAM-SHA-256'),
        |  ('sasl_handshake', 1, 15, 'mech=SCRAM-SHA-256'),
        |  ('sasl_handshake_resp', 0, 28, 'err=0|mechs=2'),
        |  ('sasl_handshake_resp', 1, 28, 'err=0|mechs=2'),
        |  ('sasl_authenticate', 0, 20, 'auth=16'),
        |  ('sasl_authenticate', 1, 20, 'auth=16'),
        |  ('sasl_authenticate', 2, 18, 'auth=16'),
        |  ('sasl_authenticate_resp', 0, 18, 'msg=ok|lifetime=0'),
        |  ('sasl_authenticate_resp', 1, 26, 'msg=ok|lifetime=3600000'),
        |  ('sasl_authenticate_resp', 2, 23, 'msg=ok|lifetime=3600000'),
        |  ('create_topics', 0, 55, 'name=events|cfgs=1|validate=false'),
        |  ('create_topics', 1, 56, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics', 2, 56, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics', 3, 56, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics', 4, 56, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics', 5, 47, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics', 6, 47, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics', 7, 47, 'name=events|cfgs=1|validate=true'),
        |  ('create_topics_resp', 0, 14, 'throttle=0|msg=|np=-1|cfgerr=0|uuid=false'),
        |  ('create_topics_resp', 1, 18, 'throttle=0|msg=ok|np=-1|cfgerr=0|uuid=false'),
        |  ('create_topics_resp', 2, 22, 'throttle=5|msg=ok|np=-1|cfgerr=0|uuid=false'),
        |  ('create_topics_resp', 3, 22, 'throttle=5|msg=ok|np=-1|cfgerr=0|uuid=false'),
        |  ('create_topics_resp', 4, 22, 'throttle=5|msg=ok|np=-1|cfgerr=0|uuid=false'),
        |  ('create_topics_resp', 5, 57, 'throttle=5|msg=ok|np=8|cfgerr=7|uuid=false'),
        |  ('create_topics_resp', 6, 57, 'throttle=5|msg=ok|np=8|cfgerr=7|uuid=false'),
        |  ('create_topics_resp', 7, 73, 'throttle=5|msg=ok|np=8|cfgerr=7|uuid=true'),
        |  ('delete_topics', 0, 16, 'name=events|uuid=false'),
        |  ('delete_topics', 1, 16, 'name=events|uuid=false'),
        |  ('delete_topics', 2, 16, 'name=events|uuid=false'),
        |  ('delete_topics', 3, 16, 'name=events|uuid=false'),
        |  ('delete_topics', 4, 13, 'name=events|uuid=false'),
        |  ('delete_topics', 5, 13, 'name=events|uuid=false'),
        |  ('delete_topics', 6, 30, 'name=events|uuid=true'),
        |  ('delete_topics_resp', 0, 14, 'throttle=0|msg='),
        |  ('delete_topics_resp', 1, 18, 'throttle=5|msg='),
        |  ('delete_topics_resp', 2, 18, 'throttle=5|msg='),
        |  ('delete_topics_resp', 3, 18, 'throttle=5|msg='),
        |  ('delete_topics_resp', 4, 16, 'throttle=5|msg='),
        |  ('delete_topics_resp', 5, 21, 'throttle=5|msg=gone'),
        |  ('delete_topics_resp', 6, 37, 'throttle=5|msg=gone'),
        |  ('create_partitions', 0, 37, 'count=16|assigns=1'),
        |  ('create_partitions', 1, 37, 'count=16|assigns=1'),
        |  ('create_partitions', 2, 30, 'count=16|assigns=1'),
        |  ('create_partitions', 3, 30, 'count=16|assigns=1'),
        |  ('create_partitions_resp', 0, 20, 'throttle=5|err=0'),
        |  ('create_partitions_resp', 1, 20, 'throttle=5|err=0'),
        |  ('create_partitions_resp', 2, 17, 'throttle=5|err=0'),
        |  ('create_partitions_resp', 3, 17, 'throttle=5|err=0'),
        |  ('describe_groups', 0, 8, 'groups=cg|ops=false'),
        |  ('describe_groups', 1, 8, 'groups=cg|ops=false'),
        |  ('describe_groups', 2, 8, 'groups=cg|ops=false'),
        |  ('describe_groups', 3, 9, 'groups=cg|ops=true'),
        |  ('describe_groups', 4, 9, 'groups=cg|ops=true'),
        |  ('describe_groups', 5, 6, 'groups=cg|ops=true'),
        |  ('describe_groups_resp', 0, 77, 'throttle=0|inst=|ops=-2147483648'),
        |  ('describe_groups_resp', 1, 81, 'throttle=5|inst=|ops=-2147483648'),
        |  ('describe_groups_resp', 2, 81, 'throttle=5|inst=|ops=-2147483648'),
        |  ('describe_groups_resp', 3, 85, 'throttle=5|inst=|ops=1020'),
        |  ('describe_groups_resp', 4, 93, 'throttle=5|inst=inst-1|ops=1020'),
        |  ('describe_groups_resp', 5, 76, 'throttle=5|inst=inst-1|ops=1020'),
        |  ('list_groups', 0, 0, 'states='),
        |  ('list_groups', 1, 0, 'states='),
        |  ('list_groups', 2, 0, 'states='),
        |  ('list_groups', 3, 1, 'states='),
        |  ('list_groups', 4, 9, 'states=Stable'),
        |  ('list_groups_resp', 0, 20, 'throttle=0|state='),
        |  ('list_groups_resp', 1, 24, 'throttle=5|state='),
        |  ('list_groups_resp', 2, 24, 'throttle=5|state='),
        |  ('list_groups_resp', 3, 21, 'throttle=5|state='),
        |  ('list_groups_resp', 4, 28, 'throttle=5|state=Stable'),
        |  ('delete_groups', 0, 14, 'groups=cg1,cg2'),
        |  ('delete_groups', 1, 14, 'groups=cg1,cg2'),
        |  ('delete_groups', 2, 10, 'groups=cg1,cg2'),
        |  ('delete_groups_resp', 0, 22, 'throttle=5|errs=0,16'),
        |  ('delete_groups_resp', 1, 22, 'throttle=5|errs=0,16'),
        |  ('delete_groups_resp', 2, 20, 'throttle=5|errs=0,16'),
        |  ('offset_for_leader_epoch', 0, 24, 'cur=-1|epoch=3'),
        |  ('offset_for_leader_epoch', 1, 24, 'cur=-1|epoch=3'),
        |  ('offset_for_leader_epoch', 2, 28, 'cur=5|epoch=3'),
        |  ('offset_for_leader_epoch', 3, 32, 'cur=5|epoch=3'),
        |  ('offset_for_leader_epoch', 4, 28, 'cur=5|epoch=3'),
        |  ('offset_for_leader_epoch_resp', 0, 30, 'throttle=0|epoch=-1|end=42'),
        |  ('offset_for_leader_epoch_resp', 1, 34, 'throttle=0|epoch=5|end=42'),
        |  ('offset_for_leader_epoch_resp', 2, 38, 'throttle=5|epoch=5|end=42'),
        |  ('offset_for_leader_epoch_resp', 3, 38, 'throttle=5|epoch=5|end=42'),
        |  ('offset_for_leader_epoch_resp', 4, 34, 'throttle=5|epoch=5|end=42'),
        |  ('describe_configs', 0, 31, 'syn=false|doc=false'),
        |  ('describe_configs', 1, 32, 'syn=true|doc=false'),
        |  ('describe_configs', 2, 32, 'syn=true|doc=false'),
        |  ('describe_configs', 3, 33, 'syn=true|doc=true'),
        |  ('describe_configs', 4, 27, 'syn=true|doc=true'),
        |  ('describe_configs_resp', 0, 53, 'src=5|type=0|doc='),
        |  ('describe_configs_resp', 1, 57, 'src=5|type=0|doc='),
        |  ('describe_configs_resp', 2, 57, 'src=5|type=0|doc='),
        |  ('describe_configs_resp', 3, 64, 'src=5|type=5|doc=docs'),
        |  ('describe_configs_resp', 4, 53, 'src=5|type=5|doc=docs'),
        |  ('alter_configs', 0, 43, 'n=1|validate=true'),
        |  ('alter_configs', 1, 43, 'n=1|validate=true'),
        |  ('alter_configs', 2, 37, 'n=1|validate=true'),
        |  ('alter_configs_resp', 0, 21, 'throttle=5|err=0'),
        |  ('alter_configs_resp', 1, 21, 'throttle=5|err=0'),
        |  ('alter_configs_resp', 2, 18, 'throttle=5|err=0'),
        |  ('incremental_alter_configs', 0, 44, 'op=set|validate=false'),
        |  ('incremental_alter_configs', 1, 38, 'op=set|validate=false'),
        |  ('describe_acls', 0, 25, 'pt=3|principal=User:alice'),
        |  ('describe_acls', 1, 26, 'pt=3|principal=User:alice'),
        |  ('describe_acls', 2, 24, 'pt=3|principal=User:alice'),
        |  ('describe_acls', 3, 24, 'pt=3|principal=User:alice'),
        |  ('describe_acls_resp', 0, 42, 'acls=1|pt=3'),
        |  ('describe_acls_resp', 1, 43, 'acls=1|pt=3'),
        |  ('describe_acls_resp', 2, 36, 'acls=1|pt=3'),
        |  ('describe_acls_resp', 3, 36, 'acls=1|pt=3'),
        |  ('create_acls', 0, 30, 'n=1|pt=3'),
        |  ('create_acls', 1, 31, 'n=1|pt=3'),
        |  ('create_acls', 2, 27, 'n=1|pt=3'),
        |  ('create_acls', 3, 27, 'n=1|pt=3'),
        |  ('create_acls_resp', 0, 12, 'throttle=5|errs=0'),
        |  ('create_acls_resp', 1, 12, 'throttle=5|errs=0'),
        |  ('create_acls_resp', 2, 10, 'throttle=5|errs=0'),
        |  ('create_acls_resp', 3, 10, 'throttle=5|errs=0'),
        |  ('delete_acls', 0, 19, 'filters=1|pt=3'),
        |  ('delete_acls', 1, 20, 'filters=1|pt=3'),
        |  ('delete_acls', 2, 16, 'filters=1|pt=3'),
        |  ('delete_acls', 3, 16, 'filters=1|pt=3'),
        |  ('delete_acls_resp', 0, 46, 'matches=1|principal=User:alice'),
        |  ('delete_acls_resp', 1, 47, 'matches=1|principal=User:alice'),
        |  ('delete_acls_resp', 2, 39, 'matches=1|principal=User:alice'),
        |  ('delete_acls_resp', 3, 39, 'matches=1|principal=User:alice'),
        |  ('describe_log_dirs', 0, 24, 'topics=1|parts=2'),
        |  ('describe_log_dirs', 1, 24, 'topics=1|parts=2'),
        |  ('describe_log_dirs', 2, 19, 'topics=1|parts=2'),
        |  ('describe_log_dirs', 3, 19, 'topics=1|parts=2'),
        |  ('describe_log_dirs', 4, 19, 'topics=1|parts=2'),
        |  ('describe_log_dirs_resp', 0, 60, 'dir=/var/lib/d0|total=-1'),
        |  ('describe_log_dirs_resp', 1, 60, 'dir=/var/lib/d0|total=-1'),
        |  ('describe_log_dirs_resp', 2, 53, 'dir=/var/lib/d0|total=-1'),
        |  ('describe_log_dirs_resp', 3, 55, 'dir=/var/lib/d0|total=-1'),
        |  ('describe_log_dirs_resp', 4, 71, 'dir=/var/lib/d0|total=1000000'),
        |  ('describe_client_quotas', 0, 22, 'strict=true|comps=1'),
        |  ('describe_client_quotas', 1, 19, 'strict=true|comps=1'),
        |  ('describe_client_quotas_resp', 0, 64, 'entries=1|v=1024.0'),
        |  ('describe_client_quotas_resp', 1, 55, 'entries=1|v=1024.0'),
        |  ('alter_client_quotas', 0, 58, 'ops=1|v=2048.0'),
        |  ('alter_client_quotas', 1, 50, 'ops=1|v=2048.0'),
        |  ('alter_client_quotas_resp', 0, 32, 'throttle=5|results=1'),
        |  ('alter_client_quotas_resp', 1, 26, 'throttle=5|results=1'))
        | t(family, version, req_bytes, detail) ORDER BY family, version""".stripMargin,

    // Old-client conversation size laws: ListOffsets v0 req = 19 header
    //   + 20 body + 16/partition; resp = 8 + 16 + 18/partition (old-style
    //   single-offset lists). OffsetCommit v1 req = 19 + 28 + 23/committed
    //   (4+8+8 ts+3 md); resp = 8 + 16 + 6/committed. OffsetFetch v1
    //   req = 19 + 20 + 4/partition; resp = 8 + 16 + 16/partition.
    "p6_wire_old_client" ->
      s"""$LogCte,
         | b AS (SELECT partition, min("offset") AS e, max("offset") + 1 AS h
         |   FROM log GROUP BY 1),
         | o AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
         |           max(event_id) AS off
         |    FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0 GROUP BY 1),
         | p AS (SELECT CAST(range AS INTEGER) AS partition FROM range(8)),
         | k AS (SELECT count(*) AS kk FROM o)
         | SELECT * FROM (
         |  SELECT 'commit' AS leg, o.partition, CAST(o.off AS BIGINT) AS "value",
         |         CAST(47 + 23 * k.kk AS INTEGER) AS req_bytes,
         |         CAST(24 + 6 * k.kk AS INTEGER) AS resp_bytes,
         |         TRUE AS corr_ok
         |  FROM o, k
         |  UNION ALL
         |  SELECT 'fetch', p.partition, CAST(coalesce(o.off, -1) AS BIGINT),
         |         71, 152, TRUE
         |  FROM p LEFT JOIN o ON o.partition = p.partition
         |  UNION ALL
         |  SELECT 'list_earliest', partition, CAST(e AS BIGINT), 167, 168, TRUE FROM b
         |  UNION ALL
         |  SELECT 'list_latest', partition, CAST(h AS BIGINT), 167, 168, TRUE FROM b)
         | ORDER BY leg, partition""".stripMargin,

    "p6_wire_framing" ->
      """SELECT CAST(version AS INTEGER) AS version,
        |       CAST(n AS INTEGER) AS n_apis,
        |       CAST(body AS INTEGER) AS body_bytes,
        |       CAST(body + 8 AS INTEGER) AS frame_bytes,
        |       CAST(100 + version AS INTEGER) AS correlation,
        |       TRUE AS roundtrip_ok
        | FROM (
        |   SELECT v.version, t.n,
        |          CASE WHEN v.version = 0 THEN 2 + 4 + t.n * 6
        |               WHEN v.version <= 2 THEN 2 + 4 + t.n * 6 + 4
        |               ELSE 2 + 1 + t.n * 7 + 4 + 1 END AS body
        |   FROM (VALUES (0), (1), (2), (3)) v(version),
        |        (SELECT 44 AS n) t)
        | ORDER BY version""".stripMargin,

    // DSv2 write+read round trip: per-partition counts/bounds of what
    // the written segments serve back under offset pushdown.
    "s3_dsv2_write" ->
      s"""$LogCte SELECT partition, count(*) AS n, max(event_id) AS max_ts,
         |  CAST(sum(length(event_type)) AS BIGINT) AS value_bytes
         | FROM log WHERE "offset" < 200 GROUP BY partition
         | ORDER BY partition""".stripMargin,

    // Streaming DSv2: phase 1 drains offsets < 60, the checkpoint
    // resume reads exactly the appended [60, 120) window.
    "s3_dsv2_stream" ->
      s"""$LogCte SELECT 1 AS phase, partition, count(*) AS n,
         |  min("offset") AS min_offset, max("offset") AS max_offset
         | FROM log WHERE "offset" < 60 GROUP BY partition
         | UNION ALL
         | SELECT 2, partition, count(*), min("offset"), max("offset")
         | FROM log WHERE "offset" >= 60 AND "offset" < 120 GROUP BY partition
         | ORDER BY phase, partition""".stripMargin,

    // DSv2 log source: rows decoded from wire-format segment files
    // under pushed partition/offset predicates.
    "s3_dsv2_scan" ->
      s"""$LogCte SELECT partition, "offset", event_id AS timestamp,
         |  CAST(user_id AS VARCHAR) AS key_str, event_type AS value_str
         | FROM log WHERE partition = 2 AND "offset" >= 40 AND "offset" < 100
         | ORDER BY "offset"""".stripMargin,

    // Header-only projection: counts and offset bounds per partition
    // under the pushed offset window.
    "s3_dsv2_prune" ->
      s"""$LogCte SELECT partition, count(*) AS n, min("offset") AS min_offset,
         |  max("offset") AS max_offset
         | FROM log WHERE "offset" < 120 GROUP BY partition
         | ORDER BY partition""".stripMargin,

    "s3_index_entries" ->
      s"""$S3IndexCte
         | SELECT partition, segment, entry_seq, rel_offset, rel_time, filepos
         | FROM entries ORDER BY partition, segment, entry_seq""".stripMargin,

    "s3_index_state" ->
      s"""$S3IndexCte
         | SELECT partition, segment, base_offset, max_offset, base_timestamp,
         |        max_timestamp, timestamps_monotonic,
         |        FALSE AS non_data_timestamps, n_batches
         | FROM st ORDER BY partition, segment""".stripMargin,

    "s3_index_size_seek" ->
      s"""$S3IndexCte,
         | fp AS (SELECT partition, segment, max(filepos) AS mx
         |   FROM entries GROUP BY 1, 2),
         | pr AS (SELECT DISTINCT partition, segment,
         |   unnest([0, mx // 2, mx, mx + 1]) AS probe FROM fp),
         | ab AS (SELECT p.partition, p.segment, CAST(p.probe AS BIGINT) AS probe,
         |     min(e.filepos) AS fpos
         |   FROM pr p LEFT JOIN entries e ON e.partition = p.partition
         |     AND e.segment = p.segment AND e.filepos > p.probe
         |   GROUP BY 1, 2, 3),
         | bl AS (SELECT p.partition, p.segment, CAST(p.probe AS BIGINT) AS probe,
         |     max(e.filepos) AS fpos
         |   FROM pr p LEFT JOIN entries e ON e.partition = p.partition
         |     AND e.segment = p.segment AND e.filepos <= p.probe
         |   GROUP BY 1, 2, 3),
         | res AS (
         |  SELECT 'above' AS mode, a.partition, a.segment, a.probe,
         |         a.fpos IS NOT NULL AS found, e.rel_offset, e.rel_time, e.filepos
         |  FROM ab a LEFT JOIN entries e ON e.partition = a.partition
         |    AND e.segment = a.segment AND e.filepos = a.fpos
         |  UNION ALL
         |  SELECT 'below', b.partition, b.segment, b.probe,
         |         b.fpos IS NOT NULL, e.rel_offset, e.rel_time, e.filepos
         |  FROM bl b LEFT JOIN entries e ON e.partition = b.partition
         |    AND e.segment = b.segment AND e.filepos = b.fpos)
         | SELECT partition, segment, probe, found, rel_offset, rel_time,
         |        filepos, mode
         | FROM res ORDER BY mode, partition, segment, probe""".stripMargin,

    "s3_index_truncate" ->
      s"""$S3IndexCte,
         | cuts AS (SELECT partition, segment, base_offset AS b, max_offset AS m,
         |     base_timestamp AS bt, max_timestamp AS mt, n,
         |     unnest(['noop', 'mid', 'empty']) AS scenario
         |   FROM (SELECT st.*, (SELECT count(*) FROM entries e
         |       WHERE e.partition = st.partition AND e.segment = st.segment) AS n
         |     FROM st)),
         | ap AS (SELECT *,
         |     CASE scenario WHEN 'noop' THEN b - 1
         |          WHEN 'mid' THEN (b + m) // 2 ELSE b END AS nmo
         |   FROM cuts),
         | k AS (SELECT a.*, (SELECT count(*) FROM entries e
         |     WHERE e.partition = a.partition AND e.segment = a.segment
         |       AND (a.nmo < a.b OR e.rel_offset < a.nmo - a.b)) AS kept
         |   FROM ap a)
         | SELECT partition, segment, CAST(b AS BIGINT) AS base_offset,
         |        CAST(CASE WHEN nmo < b OR nmo >= m THEN m
         |             WHEN kept = 0 THEN b ELSE nmo END AS BIGINT) AS max_offset,
         |        CAST(bt AS BIGINT) AS base_timestamp,
         |        CAST(CASE WHEN nmo < b OR nmo >= m THEN mt
         |             WHEN kept = 0 THEN bt ELSE bt + 5 END AS BIGINT) AS max_timestamp,
         |        CAST(kept AS BIGINT) AS n_entries, scenario
         | FROM k ORDER BY scenario, partition, segment""".stripMargin,

    // Golden fold output for the non-data-timestamp override fixture
    // (hand-traced against index_state.cc:246-312; see the entry's
    // scaladoc for the four segment shapes). Entry 0 of a config-head
    // segment carries the first user batch's RAW last_timestamp
    // (try_reset_relative_time_index stores the absolute value).
    "s3_index_nondata" ->
      """SELECT CAST(partition AS INTEGER) AS partition,
        |       CAST(segment AS BIGINT) AS segment,
        |       CAST(entry_seq AS INTEGER) AS entry_seq,
        |       CAST(rel_offset AS BIGINT) AS rel_offset,
        |       CAST(rel_time AS BIGINT) AS rel_time,
        |       CAST(filepos AS BIGINT) AS filepos,
        |       CAST(base_timestamp AS BIGINT) AS base_timestamp,
        |       CAST(max_timestamp AS BIGINT) AS max_timestamp,
        |       non_data_timestamps
        | FROM (VALUES
        |  (0, 0, 0, 0, 1150, 0, 1100, 1550, FALSE),
        |  (0, 0, 1, 20, 150, 6000, 1100, 1550, FALSE),
        |  (0, 0, 2, 40, 350, 12000, 1100, 1550, FALSE),
        |  (0, 1, 0, 0, 50, 0, 1600, 2150, FALSE),
        |  (0, 1, 1, 20, 250, 6000, 1600, 2150, FALSE),
        |  (0, 1, 2, 40, 450, 12000, 1600, 2150, FALSE),
        |  (1, 0, 0, 0, 1250, 0, 1200, 1550, FALSE),
        |  (1, 0, 1, 20, 50, 6000, 1200, 1550, FALSE),
        |  (1, 0, 2, 40, 250, 12000, 1200, 1550, FALSE),
        |  (1, 1, 0, 0, 5, 0, 9000000060, 9000000060, TRUE))
        |  t(partition, segment, entry_seq, rel_offset, rel_time, filepos,
        |    base_timestamp, max_timestamp, non_data_timestamps)
        | ORDER BY partition, segment, entry_seq""".stripMargin,

    "s3_index_lookup" ->
      s"""$S3IndexCte,
         | oprobes AS (
         |  SELECT DISTINCT partition, segment, base_offset, unnest([
         |    base_offset - 1, base_offset, (base_offset + max_offset) // 2,
         |    max_offset]) AS probe
         |  FROM st),
         | olook AS (
         |  SELECT p.partition, p.segment, CAST(p.probe AS BIGINT) AS probe,
         |         max(e.rel_offset) AS mo
         |  FROM oprobes p LEFT JOIN entries e
         |    ON e.partition = p.partition AND e.segment = p.segment
         |   AND p.probe >= p.base_offset AND e.rel_offset <= p.probe - p.base_offset
         |  GROUP BY 1, 2, 3),
         | ores AS (
         |  SELECT l.partition, l.segment, l.probe, l.mo IS NOT NULL AS found,
         |         coalesce(e.rel_offset, -1) AS rel_offset,
         |         coalesce(e.rel_time, -1) AS rel_time,
         |         coalesce(e.filepos, -1) AS filepos, 'offset' AS kind
         |  FROM olook l LEFT JOIN entries e
         |    ON e.partition = l.partition AND e.segment = l.segment AND e.rel_offset = l.mo),
         | tprobes AS (
         |  SELECT DISTINCT partition, segment, base_timestamp, unnest([
         |    base_timestamp - 1, base_timestamp,
         |    (base_timestamp + max_timestamp) // 2, max_timestamp + 1000]) AS probe
         |  FROM st),
         | tlb AS (
         |  SELECT p.partition, p.segment, CAST(p.probe AS BIGINT) AS probe,
         |         min(e.entry_seq) AS lb_seq
         |  FROM tprobes p LEFT JOIN entries e
         |    ON e.partition = p.partition AND e.segment = p.segment
         |   AND p.probe >= p.base_timestamp AND e.rel_time >= p.probe - p.base_timestamp
         |  GROUP BY 1, 2, 3),
         | tres AS (
         |  SELECT l.partition, l.segment, l.probe, e.entry_seq IS NOT NULL AS found,
         |         coalesce(e.rel_offset, -1) AS rel_offset,
         |         coalesce(e.rel_time, -1) AS rel_time,
         |         coalesce(e.filepos, -1) AS filepos, 'time' AS kind
         |  FROM tlb l LEFT JOIN entries e
         |    ON l.lb_seq IS NOT NULL AND e.partition = l.partition AND e.segment = l.segment
         |   AND e.entry_seq = greatest(l.lb_seq - 1, 0))
         | SELECT partition, segment, probe, found, rel_offset, rel_time, filepos, kind
         | FROM (SELECT * FROM ores UNION ALL SELECT * FROM tres)
         | ORDER BY kind, partition, segment, probe""".stripMargin,

    "sr_canonical_ids" ->
      """SELECT CAST(seq AS BIGINT) AS seq, subject,
        |       CAST(schema_id AS BIGINT) AS schema_id,
        |       CAST(version AS INTEGER) AS version, new_id, new_version
        | FROM (VALUES
        |  (1, 'events-value', 1, 1, TRUE, TRUE),
        |  (2, 'orders-value', 1, 1, FALSE, TRUE),
        |  (3, 'events-value', 1, 1, FALSE, FALSE),
        |  (4, 'events-value', 2, 2, TRUE, TRUE),
        |  (5, 'audit-value', 3, 1, TRUE, TRUE),
        |  (6, 'orders-value', 2, 2, FALSE, TRUE))
        | t(seq, subject, schema_id, version, new_id, new_version)
        | ORDER BY seq""".stripMargin,

    "sr_normalize" ->
      """SELECT CAST(seq AS BIGINT) AS seq, subject,
        |       CAST(schema_id AS BIGINT) AS schema_id,
        |       CAST(version AS INTEGER) AS version, new_id, new_version
        | FROM (VALUES
        |  (1, 'cfg-value', 1, 1, TRUE, TRUE),
        |  (2, 'cfg-value', 1, 1, FALSE, FALSE),
        |  (3, 'cfg-raw', 2, 1, TRUE, TRUE),
        |  (4, 'ev-proto', 3, 1, TRUE, TRUE),
        |  (5, 'ev-proto', 3, 1, FALSE, FALSE),
        |  (6, 'ev-proto-raw', 4, 1, TRUE, TRUE),
        |  (7, 'ev-avro', 5, 1, TRUE, TRUE),
        |  (8, 'ev-avro2', 5, 1, FALSE, TRUE),
        |  (9, 'ev-proto2', 6, 1, TRUE, TRUE))
        | t(seq, subject, schema_id, version, new_id, new_version)
        | ORDER BY seq""".stripMargin,

    "sr_subject_delete" ->
      """SELECT * FROM (VALUES
        |  ('ev-value', 2, 's1v2', TRUE),
        |  ('ev-value', 3, 's1v3', FALSE),
        |  ('ord-value', 1, 'o1b', FALSE))
        | t(subject, version, schema, is_deleted)
        | ORDER BY subject, version""".stripMargin,

    // Golden pin of the S5 proxy script — murmur2("user-42") % 3 = 1
    // routes the partitionless record to p1; the consumer's first fetch
    // drains all 3 stored records, the second sees the advanced
    // position.
    "s5_rest_proxy" ->
      """SELECT * FROM (VALUES
        |  (1, 'GET', '/brokers', 200, 'body={"brokers":[0]}'),
        |  (2, 'GET', '/topics', 200, 'body=["events-rest"]'),
        |  (3, 'POST', '/topics/events-rest', 200, 'offsets=p0:0,p0:1,p1:0,p7:err40402'),
        |  (4, 'GET', '/topics/events-rest/partitions/0/records', 200, 'n=1;first_value=v2'),
        |  (5, 'POST', '/consumers/cg', 200, 'instance=c1'),
        |  (6, 'POST', '/consumers/cg/instances/c1/subscription', 204, 'subscribed'),
        |  (7, 'GET', '/consumers/cg/instances/c1/records', 200, 'n=3'),
        |  (8, 'GET', '/consumers/cg/instances/c1/records', 200, 'n=0'),
        |  (9, 'POST', '/consumers/cg/instances/c1/offsets', 204, 'committed'),
        |  (10, 'GET', '/consumers/cg/instances/c1/offsets', 200, 'offset=2'),
        |  (11, 'DELETE', '/consumers/cg/instances/c1', 204, 'removed'),
        |  (12, 'GET', '/consumers/cg/instances/c1/records', 404, 'error=40403'),
        |  (13, 'GET', '/topics/nope/partitions/0/records', 404, 'error=40401'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the Admin API protocol script (server.cc routes,
    // api-doc JSON field names, throw_on_error ladders).
    // The cross-layer scenario's final consumed rows, re-derived from
    // the planted slice: the CRC-rejected partition (event_id % 3 = 2)
    // is absent, offsets are the per-partition dense rank, values are
    // the wasm guest's uppercase transform, and the chain constant pins
    // every hop's row count plus the reject/correlation flags.
    // Every hop's payload hash (order-insensitive md5-prefix sum over
    // partition|offset|key|value) is re-derived: pre-transform values
    // for the ingest hop, uppercased for every later hop.
    "e2e_stack" ->
      """WITH planted AS (
        |  SELECT event_id, CAST(event_id % 3 AS INT) AS partition, event_type
        |  FROM events WHERE event_id < 48 AND event_id % 3 < 2),
        |r AS (
        |  SELECT partition,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY partition ORDER BY event_id) - 1
        |      AS BIGINT) AS off,
        |    CAST(event_id AS VARCHAR) AS key,
        |    'type=' || event_type AS v0,
        |    UPPER('type=' || event_type) AS v1
        |  FROM planted),
        |h AS (
        |  SELECT
        |    CAST(sum(CAST(('0x' || substr(md5(CAST(partition AS VARCHAR) || '|'
        |      || CAST(off AS VARCHAR) || '|' || key || '|' || v0), 1, 8))
        |      AS UBIGINT)) AS BIGINT) AS hpre,
        |    CAST(sum(CAST(('0x' || substr(md5(CAST(partition AS VARCHAR) || '|'
        |      || CAST(off AS VARCHAR) || '|' || key || '|' || v1), 1, 8))
        |      AS UBIGINT)) AS BIGINT) AS hup
        |  FROM r)
        |SELECT r.partition, r.off AS "offset", r.key, r.v1 AS value,
        |  'ingested=32,transformed=32,committed=32,fetched=32,consumed=32,'
        |  || 'p2_rejected=true,corr_ok=true,proxy_ok=true,h_ingested='
        |  || CAST(h.hpre AS VARCHAR) || ',h_transformed=' || CAST(h.hup AS VARCHAR)
        |  || ',h_committed=' || CAST(h.hup AS VARCHAR)
        |  || ',h_fetched=' || CAST(h.hup AS VARCHAR)
        |  || ',h_consumed=' || CAST(h.hup AS VARCHAR) AS chain
        |FROM r, h ORDER BY partition, "offset"""".stripMargin,

    // Re-derives the transactional scenario end to end: frame arrival
    // order fixes every log offset, the abort cuts tx-b, the committed
    // group offset (n-2) fixes the consumed tail. Every hop's payload
    // hash is re-derived too (md5-prefix sum over
    // partition|offset|key|value): ingest over the full log at log
    // offsets, committed/fetched over the read_committed cut at log
    // offsets, consumed over the tail at proxy offsets — so the
    // round-16 txn_seq bug class (right counts, wrong cells) flips red.
    "e2e_txn_stack" ->
      """WITH base AS (
        |  SELECT event_id, CAST(event_id % 2 AS INTEGER) AS partition, event_type,
        |    CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS txb,
        |    (CASE WHEN event_id < 18 THEN 0 ELSE 2 END)
        |      + (CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS arr
        |  FROM events WHERE event_id < 36),
        | logd AS (
        |  SELECT *, row_number() OVER (PARTITION BY partition ORDER BY arr, event_id) - 1 AS off
        |  FROM base),
        | comm AS (
        |  SELECT partition, event_id, event_type, off,
        |    CAST(row_number() OVER (PARTITION BY partition ORDER BY off) - 1 AS BIGINT) AS poff
        |  FROM logd WHERE txb = 0),
        | np AS (SELECT partition, count(*) AS n FROM comm GROUP BY 1),
        | hi AS (
        |  SELECT CAST(sum(CAST(('0x' || substr(md5(CAST(partition AS VARCHAR)
        |    || '|' || CAST(off AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)
        |    || '|type=' || event_type), 1, 8)) AS UBIGINT)) AS BIGINT) AS h
        |  FROM logd),
        | hc AS (
        |  SELECT CAST(sum(CAST(('0x' || substr(md5(CAST(partition AS VARCHAR)
        |    || '|' || CAST(off AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)
        |    || '|type=' || event_type), 1, 8)) AS UBIGINT)) AS BIGINT) AS h
        |  FROM comm),
        | hcons AS (
        |  SELECT CAST(sum(CAST(('0x' || substr(md5(CAST(c.partition AS VARCHAR)
        |    || '|' || CAST(c.poff AS VARCHAR) || '|' || CAST(c.event_id AS VARCHAR)
        |    || '|type=' || c.event_type), 1, 8)) AS UBIGINT)) AS BIGINT) AS h
        |  FROM comm c JOIN np USING (partition) WHERE c.poff >= np.n - 2),
        | ch AS (SELECT 'pid_a=500,pid_b=501,init_ok=true,ingested=' ||
        |  CAST((SELECT count(*) FROM base) AS VARCHAR) ||
        |  ',txn_bits_ok=true,offsets_match=true,ends_ok=true,committed=' ||
        |  CAST((SELECT count(*) FROM comm) AS VARCHAR) ||
        |  ',aborted_served=2,iso_ok=true,txb_absent=true,visible_groups=2,' ||
        |  'txb_invisible=true,corr_ok=true,proxy_ok=true,h_ingested=' ||
        |  CAST(hi.h AS VARCHAR) || ',h_committed=' || CAST(hc.h AS VARCHAR) ||
        |  ',h_fetched=' || CAST(hc.h AS VARCHAR) ||
        |  ',h_consumed=' || CAST(hcons.h AS VARCHAR) AS chain
        |  FROM hi, hc, hcons)
        |SELECT c.partition, c.poff AS "offset", CAST(c.event_id AS VARCHAR) AS key,
        |  'type=' || c.event_type AS value, ch.chain
        |FROM comm c JOIN np USING (partition), ch
        |WHERE c.poff >= np.n - 2
        |ORDER BY partition, "offset"""".stripMargin,

    "sr_rest_api" ->
      """SELECT * FROM (VALUES
        |  (1, 'POST', '/subjects/ev-value/versions', 200, 'id=1'),
        |  (2, 'POST', '/subjects/ev-value/versions', 200, 'id=1'),
        |  (3, 'POST', '/subjects/ev-value/versions', 200, 'id=2'),
        |  (4, 'POST', '/subjects/other-value/versions', 200, 'id=1'),
        |  (5, 'POST', '/subjects/ev-value/versions', 409, 'error=409'),
        |  (6, 'GET', '/subjects', 200, 'list=["ev-value","other-value"]'),
        |  (7, 'GET', '/subjects/ev-value/versions', 200, 'list=[1,2]'),
        |  (8, 'GET', '/subjects/ev-value/versions/latest', 200, 'latest=ev-value/2/2'),
        |  (9, 'GET', '/schemas/ids/1', 200, 'name=Ev'),
        |  (10, 'GET', '/subjects/nope/versions', 404, 'error=40401'),
        |  (11, 'POST', '/compatibility/subjects/ev-value/versions/latest', 200, 'compatible=true'),
        |  (12, 'POST', '/compatibility/subjects/ev-value/versions/latest', 200, 'compatible=false'),
        |  (13, 'DELETE', '/subjects/other-value', 200, 'list=[1]'),
        |  (14, 'DELETE', '/subjects/other-value', 404, 'error=40404'),
        |  (15, 'DELETE', '/subjects/other-value?permanent=true', 200, 'list=[1]'),
        |  (16, 'GET', '/subjects', 200, 'list=["ev-value"]'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    "sr_latest_schemas" ->
      """SELECT * FROM (VALUES
        |  ('events-key', 1, '{"type":"string"}'),
        |  ('events-value', 2, '{"type":"record-v2"}'),
        |  ('orders-value', 1, '{"type":"order"}'))
        | t(subject, version, schema) ORDER BY subject""".stripMargin,

    // Oracle re-derives the avro-decoded aggregates from the plaintext
    // columns; parity proves the wire framing + per-id schema resolution
    // + reader projection returned exactly the original values.
    "sr_avro_decode" ->
      """SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(CASE WHEN event_id % 2 = 1 AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
        |  CAST(sum(CASE WHEN event_id % 2 = 1 AND value IS NOT NULL
        |           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sum_cents
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "d2_avro_translation" ->
      s"""$LogCte SELECT event_type AS h_type, count(*) AS n, max("offset") AS max_offset,
         |        CAST(sum(event_id) AS BIGINT) AS sum_id,
         |        CAST(sum(CASE WHEN event_id % 2 = 1 AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value
         | FROM log GROUP BY 1 ORDER BY 1""".stripMargin,

    "sr_protobuf_decode" ->
      """WITH s AS (
        |  SELECT CASE WHEN event_id % 100 = 0 THEN '__undecoded' ELSE event_type END AS event_type,
        |         CASE WHEN event_id % 100 = 0 THEN NULL ELSE event_id END AS d_id,
        |         CASE WHEN event_id % 100 = 0 THEN NULL ELSE COALESCE(value, 0.0) END AS d_value
        |  FROM events)
        | SELECT event_type, count(*) AS n, CAST(sum(d_id) AS BIGINT) AS sum_id,
        |        CAST(sum(CAST(round(d_value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |        CAST(max(CASE WHEN d_id IS NULL THEN NULL ELSE 0 END) AS INTEGER) AS max_missing
        | FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // JSON decode oracle: v1 (ids %4=0) has no value field, v2 (%4=2)
    // carries it, %4=1 is an unregistered id and %4=3 bad magic — both
    // must land in the '__undecoded' null-struct group.
    "sr_json_decode" ->
      """WITH s AS (
        |  SELECT CASE WHEN event_id % 4 IN (0, 2) THEN event_type ELSE '__undecoded' END AS event_type,
        |         CASE WHEN event_id % 4 IN (0, 2) THEN event_id END AS d_id,
        |         CASE WHEN event_id % 4 = 2 THEN value END AS d_value
        |  FROM events)
        | SELECT event_type, count(*) AS n, CAST(sum(d_id) AS BIGINT) AS sum_id,
        |        CAST(count(d_value) AS BIGINT) AS n_value,
        |        CAST(sum(COALESCE(CAST(round(d_value * 100) AS BIGINT), 0)) AS BIGINT) AS sum_cents
        | FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "sr_protobuf_compat" ->
      """SELECT * FROM (VALUES
        |  ('01_identity', TRUE), ('02_widen_int32_to_int64', TRUE),
        |  ('03_rename_field', TRUE), ('04_reader_skips_writer_field', TRUE),
        |  ('05_new_optional_field', TRUE), ('06_new_required_field', FALSE),
        |  ('07_string_bytes_interchange', TRUE), ('08_family_change_int_string', FALSE),
        |  ('09_zigzag_not_varint', FALSE), ('10_repeated_flip', FALSE),
        |  ('11_nested_compatible', TRUE), ('12_nested_incompatible', FALSE))
        | t("case", compatible) ORDER BY "case"""".stripMargin,

    "sr_json_bounds" ->
      """SELECT * FROM (VALUES
        |  ('01_length_relaxed', TRUE),
        |  ('02_min_length_increased', FALSE),
        |  ('03_max_length_added', FALSE),
        |  ('04_bounds_dropped', TRUE),
        |  ('05_pattern_identical', TRUE),
        |  ('06_pattern_changed', FALSE),
        |  ('07_numeric_relaxed', TRUE),
        |  ('08_maximum_decreased', FALSE),
        |  ('09_multiple_of_changed', FALSE),
        |  ('10_minimum_added', FALSE),
        |  ('11_array_relaxed', TRUE),
        |  ('12_unique_items_added', FALSE))
        | t("case", compatible) ORDER BY "case"""".stripMargin,

    // Combinator corpus golden pin (each row exercises one json.cc
    // incompatibility type: not_type_extended, sum_type_narrowed,
    // product_type_extended, combined_type_changed, dependency_*,
    // property_removed_*, item_*_not_covered, multiple_of_changed,
    // required_attribute_added).
    "sr_json_combinators" ->
      """SELECT * FROM (VALUES
        |  ('01_not_identical', TRUE),
        |  ('02_not_added', FALSE),
        |  ('03_not_writer_stricter', TRUE),
        |  ('04_not_narrowed', FALSE),
        |  ('05_anyof_subset', TRUE),
        |  ('06_sum_type_narrowed', FALSE),
        |  ('07_allof_writer_stricter', TRUE),
        |  ('08_product_type_extended', FALSE),
        |  ('09_oneof_branch_dropped', TRUE),
        |  ('10_mixed_single_single', TRUE),
        |  ('11_single_vs_allof', TRUE),
        |  ('12_mixed_combined_changed', FALSE),
        |  ('13_combinator_dropped', FALSE),
        |  ('14_anyof_reads_allof', TRUE),
        |  ('15_dep_array_kept', TRUE),
        |  ('16_dep_array_narrowed', FALSE),
        |  ('17_dep_added', FALSE),
        |  ('18_dep_schema_kept', TRUE),
        |  ('19_dep_schema_incompatible', FALSE),
        |  ('20_pattern_covers_new_prop', TRUE),
        |  ('21_pattern_schema_mismatch', FALSE),
        |  ('22_additional_schema_covers', TRUE),
        |  ('23_additional_narrowed', FALSE),
        |  ('24_closed_model_new_prop', FALSE),
        |  ('25_tuple_identical', TRUE),
        |  ('26_tuple_vs_array', FALSE),
        |  ('27_tuple_writer_longer_covered', TRUE),
        |  ('28_tuple_excess_uncovered', FALSE),
        |  ('29_tuple_reader_longer_covered', TRUE),
        |  ('30_multiple_of_decimal', TRUE),
        |  ('31_multiple_of_indivisible', FALSE),
        |  ('32_required_with_default', TRUE),
        |  ('33_required_added', FALSE))
        | t("case", compatible) ORDER BY "case"""".stripMargin,

    "sr_proto_oneof_map" ->
      """SELECT * FROM (VALUES
        |  ('01_single_moved_into_oneof', TRUE),
        |  ('02_two_moved_into_oneof', FALSE),
        |  ('03_oneof_member_removed', FALSE),
        |  ('04_whole_oneof_dropped', TRUE),
        |  ('05_oneof_identity', TRUE),
        |  ('06_members_in_other_oneofs', TRUE),
        |  ('07_map_value_widen', TRUE),
        |  ('08_map_key_family_change', FALSE),
        |  ('09_map_vs_scalar', FALSE),
        |  ('10_enum_reads_int32', TRUE),
        |  ('11_enum_vs_string', FALSE),
        |  ('12_enum_symbols_added', TRUE))
        | t("case", compatible) ORDER BY "case"""".stripMargin,

    // Refs decode oracles re-derive the nested Common fields from the
    // plaintext events columns (tag = 3*event_id, label = 'L' || user_id%10);
    // the reader-only field takes its default (proto3 "" → length 0;
    // avro null → count 0).
    "sr_proto_refs" ->
      """SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(event_id * 3) AS BIGINT) AS sum_tag,
        |  max('L' || CAST(user_id % 10 AS VARCHAR)) AS max_label,
        |  CAST(max(0) AS INTEGER) AS max_note_len
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "sr_avro_refs" ->
      """SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(event_id * 3) AS BIGINT) AS sum_tag,
        |  max('L' || CAST(user_id % 10 AS VARCHAR)) AS max_label,
        |  CAST(sum(0) AS BIGINT) AS n_note
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Every registration decision pinned: (seq, subject, effective level,
    // accepted, assigned version).
    "sr_subject_compat" ->
      """SELECT CAST(seq AS BIGINT) AS seq, subject, level, accepted,
        |       CAST(version AS INTEGER) AS version
        | FROM (VALUES
        |  (10, 'a-value', 'BACKWARD', TRUE, 1),
        |  (11, 'a-value', 'BACKWARD', TRUE, 2),
        |  (12, 'a-value', 'BACKWARD', FALSE, -1),
        |  (13, 'a-value', 'BACKWARD', TRUE, 3),
        |  (20, 'b-value', 'NONE', TRUE, 1),
        |  (21, 'b-value', 'NONE', TRUE, 2),
        |  (30, 'c-value', 'FULL_TRANSITIVE', TRUE, 1),
        |  (31, 'c-value', 'FULL_TRANSITIVE', TRUE, 2),
        |  (32, 'c-value', 'FULL_TRANSITIVE', FALSE, -1),
        |  (40, 'd-value', 'FORWARD', TRUE, 1),
        |  (41, 'd-value', 'FORWARD', TRUE, 2),
        |  (50, 'd-value', 'BACKWARD', FALSE, -1),
        |  (51, 'd-value', 'BACKWARD', TRUE, 3))
        | t(seq, subject, level, accepted, version)
        | ORDER BY seq""".stripMargin,

    // The ref re-pin flips compatibility with unchanged schema text:
    // person v2's addr ref requires zip, so v2-reads-v1 fails (a
    // required reader property the writer never guarantees) while
    // v1-reads-v2 holds; team inherits both verdicts one $ref deeper.
    "sr_json_refs" ->
      """SELECT * FROM (VALUES
        |  ('01_team_selfcontained', TRUE),
        |  ('02_person_v2_reads_v1', FALSE),
        |  ('03_person_v1_reads_v2', TRUE),
        |  ('04_team_v1_reads_v2', TRUE),
        |  ('05_team_v2_reads_v1', FALSE))
        | t("case", compatible) ORDER BY "case"""".stripMargin,

    // Mode precedence: readonly beats the compat check; import admits;
    // clearing the override falls back to the global READWRITE.
    "sr_subject_mode" ->
      """SELECT CAST(seq AS BIGINT) AS seq, subject, mode, level, outcome,
        |       CAST(version AS INTEGER) AS version
        | FROM (VALUES
        |  (4, 'a-value', 'READWRITE', 'BACKWARD', 'accepted', 1),
        |  (5, 'frozen-value', 'READONLY', 'BACKWARD', 'readonly', -1),
        |  (6, 'import-value', 'IMPORT', 'BACKWARD', 'accepted', 1),
        |  (7, 'a-value', 'READWRITE', 'BACKWARD', 'incompatible', -1),
        |  (9, 'frozen-value', 'READWRITE', 'BACKWARD', 'accepted', 1))
        | t(seq, subject, mode, level, outcome, version)
        | ORDER BY seq""".stripMargin,

    "d3_schema_evolution" ->
      """SELECT event_type AS v, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_k,
        |       CAST(0 AS BIGINT) AS non_null_scores
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
