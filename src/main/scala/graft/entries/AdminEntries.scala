package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.groups.ConsumerGroups
import graft.log.{Compaction, TxnEngine}

import graft.SparkEntry._

/** Driver-contract entries: §2.10 admin surface: configs, brokers, balancers, security, quotas.
  *
  * Pure move out of the SparkEntry registry (round 15): the entry and
  * oracle text is byte-identical to its former in-line spelling; the
  * combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object AdminEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- §2.10 admin: configs as a compacted command log -----
    "adm_describe_configs" -> ((s, dir) => {
      graft.admin.Admin.describeConfigs(s, Seq("events"), configAlters(s)).orderBy("key")
    }),

    "adm_topic_catalog" -> ((s, dir) => {
      // create/alter/delete/recreate lifecycle over the compacted
      // catalog log; the listing shows the surviving topics only.
      import s.implicits._
      val topicLog = Seq(
        (1L, "t1", 8, "delete", false),
        (2L, "t2", 4, "compact", false),
        (3L, "t1", 16, "delete", false),          // alter partitions
        (4L, "t2", 4, "compact", true),           // delete t2
        (5L, "t3", 2, "compact,delete", false),
        (6L, "t4", 1, "delete", false),
        (7L, "t4", 1, "delete", true),            // delete t4
        (8L, "t4", 6, "compact", false))          // recreate t4
        .toDF("seq", "topic", "partitions", "cleanup_policy", "deleted")
      graft.admin.Admin.listTopics(topicLog).orderBy("topic")
    }),

    "adm_wire_topic_lifecycle" -> ((s, dir) => {
      // Topic lifecycle over the wire against the compacted catalog:
      // one CreatePartitions v3 frame runs the handler's full validate
      // chain in order (create_partitions.cc:50-263 — duplicated
      // topics, "Topic does not exist", count-not-above-current with
      // the handler's exact text, custom assignments unsupported),
      // the surviving topic's count lands in the catalog; one
      // DeleteTopics v6 frame deletes by NAME and by TOPIC ID
      // (unknown name 3, unknown id 100), tombstoning the catalog; the
      // final listing is the engine's compacted view.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{CreatePartitions => CP, DeleteTopics => DT}
      def uuid(topic: String): Array[Byte] =
        java.security.MessageDigest.getInstance("MD5")
          .digest(topic.getBytes("UTF-8"))
      val catalog = scala.collection.mutable.ArrayBuffer(
        (1L, "t1", 8, "delete", false),
        (2L, "t2", 4, "compact", false),
        (3L, "t3", 2, "delete", false),
        (4L, "t4", 1, "delete", false),
        (5L, "t5", 2, "delete", false))
      var nextSeq = 6L
      def live: Map[String, Int] = {
        val df = catalog.toSeq
          .toDF("seq", "topic", "partitions", "cleanup_policy", "deleted")
        graft.admin.Admin.listTopics(df)
          .collect().map(r => r.getAs[String]("topic") ->
            r.getAs[Int]("partitions")).toMap // catalog-sized
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Option[String], Int, Int, Option[String], Boolean)]

      // ---- step 1: CreatePartitions v3
      val cpReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(37, 3, 71, Some("graft")),
        CP.encodeRequest(CP.Request(Seq(
          CP.ReqTopic("t1", 12, None),
          CP.ReqTopic("t1", 16, None),
          CP.ReqTopic("ghost", 4, None),
          CP.ReqTopic("t2", 4, None),
          CP.ReqTopic("t3", 0, None),
          CP.ReqTopic("t4", 4, Some(Seq(Seq(1, 2), Seq(2, 3), Seq(3, 1)))),
          CP.ReqTopic("t5", 6, None)),
          timeoutMs = 30000, validateOnly = false)), flexible = true)
      val (cpH, cpBody) = WireHeaders.decodeRequestFrame(cpReqF, flexible = true)
      val cpReq = CP.decodeRequest(cpBody)
      val cat0 = live
      val freq = cpReq.topics.groupBy(_.name).view.mapValues(_.size).toMap
      val cpResults = cpReq.topics.map { t =>
        if (freq(t.name) > 1)
          CP.Result(t.name, 42, Some("request contains duplicated topics"))
        else if (!cat0.contains(t.name))
          CP.Result(t.name, 17, Some("Topic does not exist"))
        else if (t.count <= cat0(t.name))
          CP.Result(t.name, 42, Some(
            "Partition count must be greater then current number of partitions"))
        else if (t.assignments.isDefined)
          CP.Result(t.name, 42, Some(
            "Redpanda does not yet support custom partitions assignment"))
        else {
          catalog += ((nextSeq, t.name, t.count, "delete", false))
          nextSeq += 1
          CP.Result(t.name, 0, None)
        }
      }
      val cpRespF = WireHeaders.encodeResponseFrame(cpH.correlationId,
        CP.encodeResponse(CP.Response(0, cpResults)), flexibleHeader = true)
      val (cpCorr, cpRb) = WireHeaders.decodeResponseFrame(cpRespF,
        flexibleHeader = true)
      CP.decodeResponse(cpRb).results.zipWithIndex.foreach { case (r, i) =>
        rows += ((1, "create_partitions", Some(r.name), i, r.errorCode.toInt,
          r.errorMessage, cpCorr == 71))
      }

      // ---- step 2: DeleteTopics v6, by name and by topic id
      val ids = cat0.keys.map(t => t -> uuid(t)).toMap
      val dtReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(20, 6, 72, Some("graft")),
        DT.encodeRequest(DT.Request(Seq(
          DT.ReqTopic(Some("t3"), DT.ZeroUuid),
          DT.ReqTopic(Some("ghost"), DT.ZeroUuid),
          DT.ReqTopic(None, uuid("t4")),
          DT.ReqTopic(None, uuid("never-created"))),
          timeoutMs = 30000)), flexible = true)
      val (dtH, dtBody) = WireHeaders.decodeRequestFrame(dtReqF, flexible = true)
      val dtReq = DT.decodeRequest(dtBody)
      val cat1 = live
      val dtResults = dtReq.topics.map { t =>
        val resolved = t.name match {
          case Some(n) => if (cat1.contains(n)) Some(n) else None
          case None => ids.find(_._2.sameElements(t.topicId)).map(_._1)
        }
        resolved match {
          case Some(n) =>
            catalog += ((nextSeq, n, cat1(n), "delete", true)) // tombstone
            nextSeq += 1
            DT.Result(Some(n), ids(n), 0, None)
          case None if t.name.isDefined =>
            DT.Result(t.name, DT.ZeroUuid, 3,
              Some("unknown topic or partition"))
          case None =>
            DT.Result(None, t.topicId, 100, Some("unknown topic id"))
        }
      }
      val dtRespF = WireHeaders.encodeResponseFrame(dtH.correlationId,
        DT.encodeResponse(DT.Response(0, dtResults)), flexibleHeader = true)
      val (dtCorr, dtRb) = WireHeaders.decodeResponseFrame(dtRespF,
        flexibleHeader = true)
      DT.decodeResponse(dtRb).responses.zipWithIndex.foreach { case (r, i) =>
        rows += ((2, "delete_topics", r.name, i, r.errorCode.toInt,
          r.errorMessage, dtCorr == 72))
      }

      // ---- step 3: the surviving catalog
      live.toSeq.sortBy(_._1).foreach { case (t, parts) =>
        rows += ((3, "catalog", Some(t), parts, 0, None, true))
      }

      rows.toSeq.toDF("step", "api", "topic", "item", "error_code",
        "error_message", "corr_ok")
        .orderBy("step", "item", "topic")
    }),

    "adm_config_cleanup" -> ((s, dir) => {
      // Effective config read back from the alter log drives housekeeping
      // (alter_config_test.cc shape: alter, then observe behavior change).
      val cfg = graft.admin.Admin.currentConfigs(configAlters(s))
        .collect().map(r => r.getString(1) -> r.getString(2)).toMap
      graft.admin.Admin.applyCleanupPolicy(eventLog(s, dir),
          policy = cfg("cleanup.policy"),
          keyCols = Seq("partition", "user_id"),
          tsCol = col("ts"),
          now = lit("2024-01-28 00:00:00").cast("timestamp"),
          retentionMs = cfg("retention.ms").toLong)
        .groupBy("partition")
        .agg(count(lit(1)).as("survivors"), max("offset").as("max_offset"))
        .orderBy("partition")
    }),

    "adm_incremental_alter" -> ((s, dir) => {
      // SET overrides then a DELETE reverts retention.ms to its default;
      // cleanup.policy's later SET wins; an orphan DELETE is a no-op.
      import s.implicits._
      val ops = Seq(
        (1L, "events", "retention.ms", "1000", "set"),
        (2L, "events", "cleanup.policy", "compact", "set"),
        (3L, "events", "retention.ms", null, "delete"),
        (4L, "events", "cleanup.policy", "compact,delete", "set"),
        (5L, "events", "segment.bytes", null, "delete"))
        .toDF("seq", "topic", "key", "value", "op")
      graft.admin.Admin.describeConfigsIncremental(s, Seq("events"), ops)
        .orderBy("key")
    }),

    "adm_wire_configs" -> ((s, dir) => {
      // The topic-config surface over the wire: IncrementalAlterConfigs
      // v1 frames run the handler's per-resource validation ladder
      // (incremental_alter_configs.cc:76-160 — append/subtract
      // unsupported, set needs a value, remove needs none, op codes
      // outside 0-3 reject; all invalid_config 40 with the handler's
      // message text), accepted resources land in the incremental
      // command log; a remove reverts retention.ms to its default.
      // DescribeConfigs v4 then reads back through the engine's
      // default-overlay fold with the per-resource error ladder
      // (describe_configs.cc:125-172 — bad topic name 17, unknown
      // topic 3, broker_logger 42) and per-config source codes
      // (1 dynamic topic, 5 default).
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{DescribeConfigs => DC, IncrementalAlterConfigs => IAC}
      val knownTopics = Set("events", "metrics")
      val opsLog = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, String, String)]
      var nextSeq = 1L
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Int, Option[String], Option[String], Option[String], Option[String],
        Option[String], Int, Option[String], Boolean)]
      def rtName(b: Byte): String = b match {
        case 2 => "topic"; case 4 => "broker"; case 8 => "broker_logger"
        case other => s"unknown($other)"
      }
      def validateCfg(c: IAC.ReqConfig): Option[String] =
        IAC.OpNames.get(c.configOperation) match {
          case None => Some(s"invalid operation code ${c.configOperation}")
          case Some(op @ ("append" | "subtract")) =>
            Some(s"$op operation isn't supported for ${c.name} configuration")
          case Some("set") if c.value.isEmpty =>
            Some(s"set operation for configuration ${c.name} requires a value to be set")
          case Some("remove") if c.value.nonEmpty =>
            Some(s"remove operation for configuration ${c.name} requires a value to be empty")
          case _ => None
        }
      def alter(step: Int, resources: Seq[IAC.ReqResource]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(44, 1, step, Some("graft")),
          IAC.encodeRequest(IAC.Request(resources, validateOnly = false)),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = IAC.decodeRequest(body)
        val results = req.resources.map { res =>
          res.configs.flatMap(validateCfg).headOption match {
            case Some(msg) =>
              IAC.RespResource(40, Some(msg), res.resourceType, res.resourceName)
            case None =>
              res.configs.foreach { c =>
                opsLog += ((nextSeq, res.resourceName, c.name,
                  c.value.orNull,
                  if (c.configOperation == 1) "delete" else "set"))
                nextSeq += 1
              }
              IAC.RespResource(0, None, res.resourceType, res.resourceName)
          }
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          IAC.encodeResponse(IAC.Response(0, results)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        IAC.decodeResponse(rb).responses.zipWithIndex.foreach { case (r, i) =>
          rows += ((step, "alter", i, Some(rtName(r.resourceType)),
            Some(r.resourceName), None, None, None, r.errorCode.toInt,
            r.errorMessage, corr == step))
        }
      }
      alter(1, Seq(
        IAC.ReqResource(2, "events", Seq(
          IAC.ReqConfig("retention.ms", 0, Some("1000")),
          IAC.ReqConfig("cleanup.policy", 0, Some("compact")))),
        IAC.ReqResource(2, "events", Seq(
          IAC.ReqConfig("redpanda.remote.read", 2, Some("x")))),
        IAC.ReqResource(2, "events", Seq(
          IAC.ReqConfig("max.message.bytes", 0, None))),
        IAC.ReqResource(2, "events", Seq(
          IAC.ReqConfig("retention.ms", 1, Some("9")))),
        IAC.ReqResource(2, "events", Seq(
          IAC.ReqConfig("some.key", 7, None))),
        IAC.ReqResource(2, "metrics", Seq(
          IAC.ReqConfig("retention.ms", 0, Some("5000"))))))
      alter(2, Seq(
        IAC.ReqResource(2, "events", Seq(
          IAC.ReqConfig("retention.ms", 1, None)))))

      // effective configs through the engine's overlay fold
      val effective = graft.admin.Admin.describeConfigsIncremental(s,
          Seq("events", "metrics"),
          opsLog.toSeq.toDF("seq", "topic", "key", "value", "op"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2), r.getString(3))) // topics x 6 keys, bounded
      def validTopicName(n: String): Boolean =
        n.nonEmpty && n.length <= 249 && n != "." && n != ".." &&
          n.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-')
      val srcCode = Map("DYNAMIC_TOPIC_CONFIG" -> 1.toByte,
        "DEFAULT_CONFIG" -> 5.toByte)
      val srcName = srcCode.map(_.swap)
      val dReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(32, 4, 3, Some("graft")),
        DC.encodeRequest(DC.Request(Seq(
          DC.ReqResource(2, "events", None),
          DC.ReqResource(2, "metrics", Some(Seq("retention.ms"))),
          DC.ReqResource(2, "bad name!", None),
          DC.ReqResource(2, "ghost", None),
          DC.ReqResource(8, "kafka", None)),
          includeSynonyms = false, includeDocumentation = false)),
        flexible = true)
      val (dH, dBody) = WireHeaders.decodeRequestFrame(dReqF, flexible = true)
      val dReq = DC.decodeRequest(dBody)
      val dResults = dReq.resources.map { res =>
        if (res.resourceType == 8)
          DC.Result(42, None, res.resourceType, res.resourceName, Nil)
        else if (!validTopicName(res.resourceName))
          DC.Result(17, None, res.resourceType, res.resourceName, Nil)
        else if (!knownTopics(res.resourceName))
          DC.Result(3, None, res.resourceType, res.resourceName, Nil)
        else {
          val cfgs = effective
            .filter(_._1 == res.resourceName)
            .filter(e => res.configurationKeys.forall(_.contains(e._2)))
            .sortBy(_._2)
            .map(e => DC.Config(e._2, Option(e._3), readOnly = false,
              srcCode(e._4), isSensitive = false, 0, None))
          DC.Result(0, None, res.resourceType, res.resourceName, cfgs.toSeq)
        }
      }
      val dRespF = WireHeaders.encodeResponseFrame(dH.correlationId,
        DC.encodeResponse(DC.Response(0, dResults)), flexibleHeader = true)
      val (dCorr, dRb) = WireHeaders.decodeResponseFrame(dRespF,
        flexibleHeader = true)
      DC.decodeResponse(dRb).results.zipWithIndex.foreach { case (res, i) =>
        if (res.configs.isEmpty)
          rows += ((3, "describe", i, Some(rtName(res.resourceType)),
            Some(res.resourceName), None, None, None, res.errorCode.toInt,
            res.errorMessage, dCorr == 3))
        else res.configs.foreach { c =>
          rows += ((3, "describe", i, Some(rtName(res.resourceType)),
            Some(res.resourceName), Some(c.name), c.value,
            Some(srcName(c.configSource)), res.errorCode.toInt,
            res.errorMessage, dCorr == 3))
        }
      }
      rows.toSeq.toDF("step", "api", "item", "resource_type", "resource",
        "key", "value", "source", "error_code", "error_message", "corr_ok")
        .orderBy("step", "item", "key")
    }),

    "adm_wire_alter_configs" -> ((s, dir) => {
      // The FULL-REPLACE AlterConfigs v2 (the legacy sibling of the
      // incremental path, alter_configs.cc): the request's config set
      // replaces the topic's entire dynamic overlay — keys absent from
      // the request revert to defaults (expressed as delete ops on the
      // incremental log) — and an unknown property rejects the whole
      // resource with the handler's "invalid topic property" message.
      // The DescribeConfigs v4 read-back proves both the set and the
      // reverts through bytes.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{AlterConfigs => AC, DescribeConfigs => DC}
      val KnownKeys = graft.admin.Admin.Defaults.map(_._1).toSet
      val opsLog = scala.collection.mutable.ArrayBuffer[(Long, String,
        String, String, String)](
        (1L, "events", "cleanup.policy", "compact", "set"),
        (2L, "events", "retention.ms", "259200000", "set"))
      var nextSeq = 3L
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Int, Option[String], Option[String], Option[String], Option[String],
        Int, Option[String], Boolean)]

      val reqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(33, 2, 33, Some("graft")),
        AC.encodeRequest(AC.Request(Seq(
          AC.ReqResource(2, "events", Seq(
            ("retention.bytes", Some("1073741824")))),
          AC.ReqResource(2, "metrics", Seq(
            ("zz.unknown", Some("1"))))), validateOnly = false)),
        flexible = true)
      val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
      val req = AC.decodeRequest(body)
      val results = req.resources.map { res =>
        res.configs.find(c => !KnownKeys(c._1)) match {
          case Some((k, _)) =>
            AC.RespResource(40, Some(s"invalid topic property: $k"),
              res.resourceType, res.resourceName)
          case None =>
            // full replace: set the request's keys, revert the rest
            val requested = res.configs.map(_._1).toSet
            val previouslySet = opsLog.filter(_._2 == res.resourceName)
              .map(_._3).toSet
            res.configs.foreach { case (k, v) =>
              opsLog += ((nextSeq, res.resourceName, k, v.orNull, "set"))
              nextSeq += 1
            }
            (previouslySet -- requested).toSeq.sorted.foreach { k =>
              opsLog += ((nextSeq, res.resourceName, k, null, "delete"))
              nextSeq += 1
            }
            AC.RespResource(0, None, res.resourceType, res.resourceName)
        }
      }
      val respF = WireHeaders.encodeResponseFrame(h.correlationId,
        AC.encodeResponse(AC.Response(0, results)), flexibleHeader = true)
      val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
      AC.decodeResponse(rb).responses.zipWithIndex.foreach { case (r, i) =>
        rows += ((1, "alter", i, Some(r.resourceName), None, None, None,
          r.errorCode.toInt, r.errorMessage, corr == 33))
      }

      // read-back: the replace left ONLY retention.bytes dynamic
      val effective = graft.admin.Admin.describeConfigsIncremental(s,
          Seq("events"),
          opsLog.toSeq.toDF("seq", "topic", "key", "value", "op"))
        .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_._1) // 6 keys
      val dReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(32, 4, 34, Some("graft")),
        DC.encodeRequest(DC.Request(Seq(DC.ReqResource(2, "events", None)),
          includeSynonyms = false, includeDocumentation = false)),
        flexible = true)
      val (dH, dBody) = WireHeaders.decodeRequestFrame(dReqF, flexible = true)
      DC.decodeRequest(dBody)
      val srcCode = Map("DYNAMIC_TOPIC_CONFIG" -> 1.toByte,
        "DEFAULT_CONFIG" -> 5.toByte)
      val dRespF = WireHeaders.encodeResponseFrame(dH.correlationId,
        DC.encodeResponse(DC.Response(0, Seq(DC.Result(0, None, 2, "events",
          effective.toSeq.map(e => DC.Config(e._1, Option(e._2),
            readOnly = false, srcCode(e._3), isSensitive = false, 0, None)))))),
        flexibleHeader = true)
      val (dCorr, dRb) = WireHeaders.decodeResponseFrame(dRespF,
        flexibleHeader = true)
      val srcName = srcCode.map(_.swap)
      DC.decodeResponse(dRb).results.foreach { res =>
        res.configs.foreach { c =>
          rows += ((2, "describe", -1, Some(res.resourceName), Some(c.name),
            c.value, Some(srcName(c.configSource)), 0, None, dCorr == 34))
        }
      }
      rows.toSeq.toDF("step", "api", "item", "resource", "key", "value",
        "source", "error_code", "error_message", "corr_ok")
        .orderBy("step", "item", "key")
    }),

    "adm_client_quotas" -> ((s, dir) => {
      // describe_client_quotas resolution: per-client override beats the
      // cluster default; a REMOVE reverts to the default (client-5) or
      // to unlimited when the default itself was removed
      // (request_percentage).
      import s.implicits._
      val quotaLog = Seq[(Long, Option[String], String, Option[Double], String)](
        (1L, None, "producer_byte_rate", Some(1048576.0), "set"),
        (2L, Some("client-5"), "producer_byte_rate", Some(2097152.0), "set"),
        (3L, Some("client-7"), "consumer_byte_rate", Some(500000.0), "set"),
        (4L, Some("client-5"), "producer_byte_rate", None, "remove"),
        (5L, Some("client-9"), "producer_byte_rate", Some(4194304.0), "set"),
        (6L, None, "request_percentage", Some(50.0), "set"),
        (7L, None, "request_percentage", None, "remove"))
        .toDF("seq", "entity_name", "key", "value", "op")
      val clients = events(s, dir).select(
        concat(lit("client-"), col("user_id").cast("string")).as("client_id")).distinct()
      graft.admin.Admin.resolveClientQuotas(clients, quotaLog,
          Seq("producer_byte_rate", "consumer_byte_rate", "request_percentage"))
        .orderBy("client_id", "key")
    }),

    "adm_delete_groups" -> ((s, dir) => {
      // delete_groups: g0 deleted after every commit (gone), g1 deleted
      // at seq 1000 (commits after 1000 resurrect a fresh incarnation),
      // g2 untouched.
      import s.implicits._
      val commits = events(s, dir).where(col("event_type") === "purchase")
        .select(
          concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")).as("group"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(8)).cast("int").as("partition"),
          col("event_id").as("committed_offset"),
          col("event_id").as("commit_seq"))
      val deletions = Seq(("g0", 1000000000L), ("g1", 1000L)).toDF("group", "commit_seq")
      ConsumerGroups.deleteGroups(commits, deletions)
        .select("group", "topic", "partition", "committed_offset")
        .orderBy("group", "partition")
    }),

    "adm_wire_client_quotas" -> ((s, dir) => {
      // KIP-546 over the wire: AlterClientQuotas v1 writes default and
      // per-client overrides (remove tombstones one; unsupported
      // entity types answer 35 with the handler's message,
      // client_quotas.cc:102-151), DescribeClientQuotas v1 reads the
      // configured table back under exact/default/any match types, and
      // the engine's resolveClientQuotas fold pins the effective
      // precedence (exact client over default).
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{ClientQuotas => CQ}
      val quotaLog = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Double, String)]
      var nextSeq = 1L
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Int, Option[String], Option[String], Option[String], Double,
        Option[String], Int, Option[String], Boolean)]

      // ---- step 1: AlterClientQuotas v1
      val alterReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(49, 1, 91, Some("graft")),
        CQ.encodeAlterRequest(CQ.AlterRequest(Seq(
          CQ.AlterEntry(Seq(CQ.Entity("client-id", None)), Seq(
            CQ.Op("producer_byte_rate", 1048576.0, remove = false),
            CQ.Op("consumer_byte_rate", 2097152.0, remove = false))),
          CQ.AlterEntry(Seq(CQ.Entity("client-id", Some("etl-1"))), Seq(
            CQ.Op("producer_byte_rate", 524288.0, remove = false))),
          CQ.AlterEntry(Seq(CQ.Entity("client-id", Some("etl-2"))), Seq(
            CQ.Op("producer_byte_rate", 777.0, remove = false))),
          CQ.AlterEntry(Seq(CQ.Entity("user", Some("alice"))), Seq(
            CQ.Op("producer_byte_rate", 1.0, remove = false))),
          CQ.AlterEntry(Seq(CQ.Entity("client-id", Some("etl-2"))), Seq(
            CQ.Op("producer_byte_rate", 0.0, remove = true)))),
          validateOnly = false)), flexible = true)
      val (aH, aBody) = WireHeaders.decodeRequestFrame(alterReqF, flexible = true)
      val alterReq = CQ.decodeAlterRequest(aBody)
      val alterResults = alterReq.entries.map { e =>
        val bad = e.entity.find(x =>
          x.entityType != "client-id" && x.entityType != "client-id-prefix")
        bad match {
          case Some(x) =>
            CQ.AlterResult(35,
              Some(s"Entity type '${x.entityType}' not yet supported"),
              e.entity)
          case None =>
            e.ops.foreach { o =>
              quotaLog += ((nextSeq, e.entity.head.entityName.orNull, o.key,
                o.value, if (o.remove) "remove" else "set"))
              nextSeq += 1
            }
            CQ.AlterResult(0, None, e.entity)
        }
      }
      val alterRespF = WireHeaders.encodeResponseFrame(aH.correlationId,
        CQ.encodeAlterResponse(CQ.AlterResponse(0, alterResults)),
        flexibleHeader = true)
      val (aCorr, aRb) = WireHeaders.decodeResponseFrame(alterRespF,
        flexibleHeader = true)
      CQ.decodeAlterResponse(aRb).results.zipWithIndex.foreach { case (r, i) =>
        rows += ((1, "alter", i, Some(r.entity.head.entityType),
          r.entity.head.entityName, None, -1.0, None, r.errorCode.toInt,
          r.errorMessage, aCorr == 91))
      }

      // the configured (compacted) table the describe legs serve
      def liveQuotas: Seq[(Option[String], String, Double)] = {
        val df = quotaLog.toSeq.toDF("seq", "entity_name", "key", "value", "op")
        Compaction.compact(df, Seq("entity_name", "key"), "seq")
          .where(col("op") === "set")
          .collect().map(r => (Option(r.getString(1)), r.getString(2),
            r.getDouble(3))).toSeq // admin-sized
      }

      // ---- steps 2-4: DescribeClientQuotas v1 (exact / default / any)
      def describe(step: Int, corr: Int, matchType: Byte,
          matchName: Option[String]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(48, 1, corr, Some("graft")),
          CQ.encodeDescribeRequest(CQ.DescribeRequest(Seq(
            CQ.DescribeComponent("client-id", matchType, matchName)),
            strict = false)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = CQ.decodeDescribeRequest(body)
        val comp = req.components.head
        val matched = liveQuotas.filter { case (name, _, _) =>
          comp.matchType match {
            case 0 => name == comp.matchName // exact
            case 1 => name.isEmpty           // the default entity
            case _ => true                   // any
          }
        }
        val entries = matched.groupBy(_._1).toSeq
          .sortBy(_._1.getOrElse(""))
          .map { case (name, vs) =>
            CQ.Entry(Seq(CQ.Entity("client-id", name)),
              vs.map(v => (v._2, v._3)).sortBy(_._1))
          }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          CQ.encodeDescribeResponse(CQ.DescribeResponse(0, 0, None, entries)),
          flexibleHeader = true)
        val (corrBack, rb) = WireHeaders.decodeResponseFrame(respF,
          flexibleHeader = true)
        CQ.decodeDescribeResponse(rb).entries.foreach { e =>
          e.values.foreach { case (k, v) =>
            rows += ((step, "describe", -1, Some(e.entity.head.entityType),
              e.entity.head.entityName, Some(k), v, None, 0, None,
              corrBack == corr))
          }
        }
      }
      describe(2, 92, 0, Some("etl-1"))
      describe(3, 93, 1, None)
      describe(4, 94, 2, None)

      // ---- step 5: effective resolution through the engine fold
      graft.admin.Admin.resolveClientQuotas(
          Seq("etl-1", "etl-2").toDF("client_id"),
          quotaLog.toSeq.toDF("seq", "entity_name", "key", "value", "op"),
          Seq("producer_byte_rate", "consumer_byte_rate"))
        .collect().foreach { r =>
          rows += ((5, "resolved", -1, Some("client-id"),
            Some(r.getString(0)), Some(r.getString(1)), r.getDouble(2),
            Some(r.getString(3)), 0, None, true))
        }

      rows.toSeq.toDF("step", "api", "item", "entity_type", "entity_name",
        "key", "value", "source", "error_code", "error_message", "corr_ok")
        .orderBy("step", "item", "entity_name", "key")
    }),

    "adm_wire_reassignments" -> ((s, dir) => {
      // KIP-455 over the wire: AlterPartitionReassignments v0 frames
      // drive the reassignment command log (a null replica list
      // CANCELS; cancelling nothing answers 85
      // no_reassignment_in_progress), a controller completion ratifies
      // p0's first move internally, and ListPartitionReassignments v0
      // serves the engine fold's in-flight view — replicas, adding,
      // removing — with and without a topic filter.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{PartitionReassignments => PR}
      val initial = (0 until EventPartitions)
        .map(p => ("events", p, "0,1,2")).toDF("topic", "partition", "replicas")
      val log = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Int, String, Option[String])]
      var nextSeq = 1L
      def inFlight(p: Int): Boolean = {
        val forP = log.filter(x => x._3 == p)
        val lastTerminal = forP.filter(x => x._4 != "alter")
          .map(_._1).maxOption.getOrElse(Long.MinValue)
        forP.exists(x => x._4 == "alter" && x._1 > lastTerminal)
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Int, String, String, String, Int, Boolean)]
      def alter(step: Int, corr: Int, parts: Seq[(Int, Option[Seq[Int]])]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(45, 0, corr, Some("graft")),
          PR.encodeAlterRequest(PR.AlterRequest(60000, Seq(
            "events" -> parts.map { case (p, r) => PR.AlterPartition(p, r) }))),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = PR.decodeAlterRequest(body)
        val results = req.topics.map { case (t, ps) =>
          t -> ps.map { p =>
            p.replicas match {
              case Some(rs) =>
                log += ((nextSeq, t, p.partitionIndex, "alter",
                  Some(rs.mkString(","))))
                nextSeq += 1
                PR.PartResult(p.partitionIndex, 0, None)
              case None if inFlight(p.partitionIndex) =>
                log += ((nextSeq, t, p.partitionIndex, "cancel", None))
                nextSeq += 1
                PR.PartResult(p.partitionIndex, 0, None)
              case None =>
                PR.PartResult(p.partitionIndex, 85,
                  Some("No partition reassignment is in progress."))
            }
          }
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          PR.encodeAlterResponse(PR.AlterResponse(0, 0, None, results)),
          flexibleHeader = true)
        val (corrBack, rb) = WireHeaders.decodeResponseFrame(respF,
          flexibleHeader = true)
        PR.decodeAlterResponse(rb).responses.foreach { case (_, ps) =>
          ps.foreach(p =>
            rows += ((step, "alter", p.partitionIndex, "", "", "",
              p.errorCode.toInt, corrBack == corr)))
        }
      }
      def list(step: Int, corr: Int, filter: Option[Seq[Int]]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(46, 0, corr, Some("graft")),
          PR.encodeListRequest(PR.ListRequest(60000,
            filter.map(ps => Seq("events" -> ps)))), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = PR.decodeListRequest(body)
        val view = graft.admin.Admin.partitionReassignments(initial,
            log.toSeq.toDF("seq", "topic", "partition", "op", "targets"))
          .where(col("in_flight"))
          .collect().map(r => (r.getInt(1), r.getString(2), r.getString(3),
            r.getString(4))) // partition-count-bounded
          .filter(x => req.topics.forall(_.head._2.contains(x._1)))
          .sortBy(_._1)
        def ints(s0: String): Seq[Int] =
          if (s0.isEmpty) Nil else s0.split(",").map(_.toInt).toSeq
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          PR.encodeListResponse(PR.ListResponse(0, 0, None, Seq(
            "events" -> view.toSeq.map(x =>
              PR.Ongoing(x._1, ints(x._2), ints(x._3), ints(x._4)))))),
          flexibleHeader = true)
        val (corrBack, rb) = WireHeaders.decodeResponseFrame(respF,
          flexibleHeader = true)
        PR.decodeListResponse(rb).topics.foreach { case (_, ps) =>
          ps.foreach(p =>
            rows += ((step, "list", p.partitionIndex,
              p.replicas.mkString(","), p.adding.mkString(","),
              p.removing.mkString(","), 0, corrBack == corr)))
        }
      }
      alter(1, 45, Seq(0 -> Some(Seq(1, 2, 3))))
      // the controller ratifies p0's move (complete is not a wire op)
      log += ((nextSeq, "events", 0, "complete", None)); nextSeq += 1
      alter(2, 46, Seq(0 -> Some(Seq(2, 3, 4)), 1 -> Some(Seq(3, 4, 5)),
        2 -> Some(Seq(5, 6, 7))))
      alter(3, 47, Seq(2 -> None, 5 -> None))
      list(4, 48, None)
      list(5, 49, Some(Seq(1)))
      rows.toSeq.toDF("step", "api", "partition", "replicas", "adding",
        "removing", "error_code", "corr_ok")
        .orderBy("step", "partition")
    }),

    "adm_wire_log_dirs" -> ((s, dir) => {
      // DescribeLogDirs v4 over the wire: a null topics filter asks for
      // everything, the engine's per-partition storage accounting fills
      // one dir result (size, offset lag 0 — no future replicas — and
      // the v4 total/usable rollup), and every row decodes from the
      // response bytes. Oracle recomputes sizes from the events table.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{DescribeLogDirs => DLD}
      val stats = graft.admin.Admin.describeLogDirs(eventLog(s, dir),
          length(col("props")).cast("long"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
        .sortBy(_._1) // one row per partition
      val reqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(35, 4, 35, Some("graft")),
        DLD.encodeRequest(DLD.Request(None)), flexible = true)
      val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
      require(DLD.decodeRequest(body).topics.isEmpty)
      val total = stats.map(_._2).sum
      val respF = WireHeaders.encodeResponseFrame(h.correlationId,
        DLD.encodeResponse(DLD.Response(0, 0, Seq(
          DLD.DirResult(0, "/var/lib/graft/data", Seq(
            "events" -> stats.toSeq.map(x =>
              DLD.Partition(x._1, x._2, 0L, isFutureKey = false))),
            total, -1L)))), flexibleHeader = true)
      val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
      val got = DLD.decodeResponse(rb)
      got.results.flatMap { d =>
        d.topics.flatMap { case (t, ps) =>
          ps.map(p => (d.logDir, t, p.partitionIndex, p.partitionSize,
            p.offsetLag, d.totalBytes, d.usableBytes, corr == 35))
        }
      }.toDF("log_dir", "topic", "partition", "size_bytes", "offset_lag",
        "total_bytes", "usable_bytes", "corr_ok")
        .orderBy("partition")
    }),

    "adm_reassignments" -> ((s, dir) => {
      // alter/list_partition_reassignments state machine: p0 has an
      // applied reassignment plus a new in-flight one, p1 is in-flight
      // from the initial set, p2 was cancelled, p3 got a no-op complete.
      import s.implicits._
      val initial = (0 until EventPartitions)
        .map(p => ("events", p, "0,1,2")).toDF("topic", "partition", "replicas")
      val log = Seq[(Long, String, Int, String, Option[String])](
        (1L, "events", 0, "alter", Some("1,2,3")),
        (2L, "events", 0, "complete", None),
        (3L, "events", 1, "alter", Some("3,4,5")),
        (4L, "events", 2, "alter", Some("5,6,7")),
        (5L, "events", 2, "cancel", None),
        (6L, "events", 0, "alter", Some("2,3,4")),
        (7L, "events", 3, "complete", None))
        .toDF("seq", "topic", "partition", "op", "targets")
      graft.admin.Admin.partitionReassignments(initial, log)
        .orderBy("partition")
    }),

    "adm_balancer_violations" -> ((s, dir) => {
      // Partition balancer violation detection
      // (partition_balancer_planner.h change_reason): node-scope flags
      // (decommissioning / unavailable / over the soft disk ratio) plus
      // rack-constraint duplicates, all declarative DataFrame work over
      // the health-report tables.
      graft.admin.Balancer.violations(balancerNodes(s), balancerReplicas(s), 0.8)
        // -1/'' sentinels: nullable ints turn float64 in the driver's
        // pandas hasher (same trap as sec_oidc_auth)
        .withColumn("node_id", coalesce(col("node_id"), lit(-1)))
        .withColumn("topic", coalesce(col("topic"), lit("")))
        .withColumn("partition", coalesce(col("partition"), lit(-1)))
        .orderBy("kind", "node_id", "topic", "partition")
    }),

    "adm_balancer_plan" -> ((s, dir) => {
      // One planner round in the reference's priority order:
      // decommission drain, dead-node repair (with an unplaceable
      // 900-byte partition correctly failing), rack repair off the
      // fullest duplicate, disk shed largest-first — allocation is
      // rack-diverse, disk-headroom-checked, most-free-bytes,
      // id-tie-broken. Oracle pins the exact plan.
      graft.admin.Balancer.planActions(balancerNodes(s), balancerReplicas(s), 0.8)
        .orderBy("ord")
    }),

    "adm_leader_balance" -> ((s, dir) => {
      // Leadership balancer (scheduling/leader_balancer_constraints.cc):
      // 5 of 6 leaders sit on node 0; the deterministic greedy moves
      // leadership to replica holders only, largest shard-error
      // reduction first with per-topic spread breaking ties, and stops
      // at equilibrium (2,2,1,1 with topic t spread one-per-node).
      graft.admin.Balancer.leaderPlan(leaderReps(s)).orderBy("ord")
    }),

    "adm_cluster_health" -> ((s, dir) => {
      // Health-monitor rollup (health_monitor_types.h node_state +
      // local_state): liveness = heartbeat staleness vs the 30s bound
      // (node 2's 45s silence reads dead), disk as exact-integer
      // permille, replica/leader counts from the same replica map the
      // leader balancer consumes. The oracle re-derives the counts from
      // the replica VALUES.
      import s.implicits._
      val now = 1700000000000L
      val hb = Seq((0, now - 1000L), (1, now - 2000L), (2, now - 45000L),
        (3, now - 500L)).toDF("node_id", "last_heartbeat_ms")
      val disks = Seq((0, 1000L, 400L), (1, 1000L, 700L), (2, 1000L, 800L),
        (3, 1000L, 100L)).toDF("node_id", "total_bytes", "free_bytes")
      graft.admin.Admin.clusterHealth(hb, disks, leaderReps(s), now,
          stalenessMs = 30000L)
        .orderBy("node_id")
    }),

    "t3_wire_introspection" -> ((s, dir) => {
      // KIP-664 over the wire: ListTransactions v0 (state filters with
      // unknown names echoed back, producer-id filters),
      // DescribeTransactions v0 (unknown tid 105, known states with
      // the touched topic-partition set) and DescribeProducers v0
      // (per-partition active producer states incl. the open txn's
      // first offset) — all three answered by the engine's
      // introspection folds over a marker-carrying fixture log with
      // one ongoing, one committed and one aborted transaction.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{ListTransactions => LT, DescribeTransactions => DX,
        DescribeProducers => DP}
      val log = Seq(
        (0, 0L, 10L, 0, 0L, false, null.asInstanceOf[String], 1),
        (0, 1L, 10L, 0, 0L, false, null.asInstanceOf[String], 1),
        (1, 0L, 10L, 0, 0L, false, null.asInstanceOf[String], 1),
        (0, 2L, 11L, 1, 0L, false, null.asInstanceOf[String], 1),
        (0, 3L, 11L, 1, 0L, true, "commit", 1),
        (1, 1L, 12L, 0, 0L, false, null.asInstanceOf[String], 1),
        (1, 2L, 12L, 0, 0L, false, null.asInstanceOf[String], 1),
        (1, 3L, 12L, 0, 0L, true, "abort", 1))
        .toDF("partition", "offset", "pid", "epoch", "txn_seq",
          "is_control", "decision", "batch_type")
      def tid(pid: Long) = s"tx-$pid"
      val listed = TxnEngine.listTransactions(log)
        .collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1) // 3 txns
      val described = TxnEngine.describeTransactions(log)
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(3),
          r.getInt(4))) // (pid, partition, state, epoch), bounded
      val producers = TxnEngine.describeProducers(log)
        .collect().map { r =>
          (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
            if (r.isNullAt(5)) -1L else r.getLong(5))
        } // (partition, pid, epoch, last_offset, open_first), bounded
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Option[String], Option[String], Long, Int, Int, Long, Long, Int,
        Boolean)]

      val ValidStates = Set("Ongoing", "PrepareCommit", "PrepareAbort",
        "CompleteCommit", "CompleteAbort", "Empty", "Dead", "PrepareEpochFence")
      def list(step: Int, states: Seq[String], pids: Seq[Long]): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(66, 0, step, Some("graft")),
          LT.encodeRequest(LT.Request(states, pids)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = LT.decodeRequest(body)
        val (known, unknown) = req.stateFilters.partition(ValidStates)
        val matches = listed
          .filter { case (pid, state) =>
            (known.isEmpty && req.stateFilters.isEmpty || known.contains(state)) &&
              (req.producerIdFilters.isEmpty || req.producerIdFilters.contains(pid))
          }
          .map { case (pid, state) => LT.TxnState(tid(pid), pid, state) }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          LT.encodeResponse(LT.Response(0, 0, unknown, matches.toSeq)),
          flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        val got = LT.decodeResponse(rb)
        got.unknownStateFilters.foreach(f =>
          rows += ((step, "list_unknown", None, Some(f), -1L, -1, -1, -1L,
            -1L, 0, corr == step)))
        got.states.foreach(st =>
          rows += ((step, "list", Some(st.transactionalId),
            Some(st.transactionState), st.producerId, -1, -1, -1L, -1L, 0,
            corr == step)))
      }
      list(1, Nil, Nil)
      list(2, Seq("CompleteCommit", "Retrying"), Nil)
      list(3, Nil, Seq(12L))

      // ---- DescribeTransactions v0
      {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(65, 0, 4, Some("graft")),
          DX.encodeRequest(DX.Request(Seq("tx-10", "tx-99"))), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = DX.decodeRequest(body)
        val byPid = described.groupBy(_._1)
        val states = req.transactionalIds.map { t =>
          val pid = t.stripPrefix("tx-").toLongOption.filter(p =>
            byPid.contains(p))
          pid match {
            case None =>
              DX.TxnState(105, t, "", 0, -1L, -1L, -1, Nil)
            case Some(p) =>
              val rows0 = byPid(p)
              DX.TxnState(0, t, rows0.head._3, 60000, -1L, p,
                rows0.map(_._4).max.toShort,
                Seq("events" -> rows0.map(_._2).sorted))
          }
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          DX.encodeResponse(DX.Response(0, states)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        DX.decodeResponse(rb).states.foreach { st =>
          if (st.errorCode != 0)
            rows += ((4, "describe", Some(st.transactionalId), None, -1L, -1,
              -1, -1L, -1L, st.errorCode.toInt, corr == 4))
          else st.topics.foreach { case (_, ps) =>
            ps.foreach(p =>
              rows += ((4, "describe", Some(st.transactionalId),
                Some(st.transactionState), st.producerId,
                st.producerEpoch.toInt, p, -1L, -1L, 0, corr == 4)))
          }
        }
      }

      // ---- DescribeProducers v0
      {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(61, 0, 5, Some("graft")),
          DP.encodeRequest(DP.Request(Seq("events" -> Seq(0, 1, 5)))),
          flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = DP.decodeRequest(body)
        val byPart = producers.groupBy(_._1)
        val answered = req.topics.map { case (t, ps) =>
          t -> ps.map { p =>
            DP.RespPartition(p, 0, None,
              byPart.getOrElse(p, Array.empty[(Int, Long, Int, Long, Long)])
                .sortBy(_._2)
                .map(x => DP.Producer(x._2, x._3, -1, -1L, 0, x._5)).toSeq)
          }
        }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          DP.encodeResponse(DP.Response(0, answered)), flexibleHeader = true)
        val (corr, rb) = WireHeaders.decodeResponseFrame(respF, flexibleHeader = true)
        DP.decodeResponse(rb).topics.foreach { case (_, ps) =>
          ps.foreach { p =>
            if (p.activeProducers.isEmpty)
              rows += ((5, "producers", None, None, -1L, -1,
                p.partitionIndex, -1L, -1L, 0, corr == 5))
            else p.activeProducers.foreach { ap =>
              val last = producers.find(x =>
                x._1 == p.partitionIndex && x._2 == ap.producerId).get._4
              rows += ((5, "producers", None, None, ap.producerId,
                ap.producerEpoch, p.partitionIndex,
                ap.currentTxnStartOffset, last, 0, corr == 5))
            }
          }
        }
      }

      rows.toSeq.toDF("step", "api", "tid", "state", "pid", "epoch",
        "partition", "txn_start_offset", "last_offset", "error_code",
        "corr_ok")
        .orderBy("step", "tid", "pid", "partition", "state")
    }),

    "adm_list_transactions" -> ((s, dir) =>
      // Coordinator-visible txn listing over engine-produced state:
      // Ongoing (trailing partials), CompleteCommit, CompleteAbort.
      TxnEngine.listTransactions(txnLog(s, dir))
        .orderBy("pid", "txn_seq")),

    "adm_describe_producers" -> ((s, dir) =>
      TxnEngine.describeProducers(txnLog(s, dir))
        .orderBy("partition", "pid")),

    "adm_describe_transactions" -> ((s, dir) =>
      // Per-producer current-txn detail: state + exploded touched-
      // partition list with per-partition start offset and footprint.
      TxnEngine.describeTransactions(txnLog(s, dir))
        .orderBy("pid", "partition")),

    "adm_describe_log_dirs" -> ((s, dir) =>
      graft.admin.Admin.describeLogDirs(eventLog(s, dir),
          length(col("props")).cast("long"))
        .orderBy("partition")),

    "adm_topic_validation" -> ((s, dir) => {
      // create_topics validator chain: each row violates exactly one
      // rule (or none); first-failing-rule error code pinned by the
      // oracle — invalid_partitions 37, invalid_replication_factor 38,
      // invalid_config 40.
      import s.implicits._
      val reqs = Seq(
        ("ok", 8, 3, Some(1048576), Some("zstd"), Some("compact"), Some("CreateTime")),
        ("ok_defaults", 1, 1, None: Option[Int], None: Option[String],
          None: Option[String], None: Option[String]),
        ("bad_parts", 0, 3, None: Option[Int], None: Option[String],
          None: Option[String], None: Option[String]),
        ("bad_rf_even", 4, 2, None: Option[Int], None: Option[String],
          None: Option[String], None: Option[String]),
        ("bad_rf_neg", 4, -1, None: Option[Int], None: Option[String],
          None: Option[String], None: Option[String]),
        ("bad_max_bytes", 4, 3, Some(0), None: Option[String],
          None: Option[String], None: Option[String]),
        ("bad_compression", 4, 3, None: Option[Int], Some("brotli"),
          None: Option[String], None: Option[String]),
        ("bad_cleanup", 4, 3, None: Option[Int], None: Option[String],
          Some("vacuum"), None: Option[String]),
        ("bad_ts_type", 4, 3, None: Option[Int], None: Option[String],
          None: Option[String], Some("BrokerTime")),
        ("first_rule_wins", -1, 2, Some(-5), Some("brotli"),
          Some("vacuum"), Some("BrokerTime")))
        .toDF("topic", "partitions", "replication_factor", "max_message_bytes",
          "compression", "cleanup_policy", "timestamp_type")
      graft.admin.Admin.validateTopicConfigs(reqs)
        .select("topic", "error_code")
        .orderBy("topic")
    }),

    "adm_wire_create_topics" -> ((s, dir) => {
      // CreateTopics v7 over the wire: the decoded request's topic
      // specs (configs as name/value pairs) run the engine's
      // first-failing-rule validator chain (validators.h — 37 invalid
      // partitions, 38 invalid replication factor, 40 invalid config);
      // accepted topics echo effective partitions/rf/configs, rejects
      // answer -1/-1 with null configs and carry the config error as
      // the response's TAGGED field (tag 0, emitted only when set).
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.CreateTopics
      val reqFrame = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(19, 7, 61, Some("graft")),
        CreateTopics.encodeRequest(CreateTopics.Request(Seq(
          CreateTopics.ReqTopic("wire_ok", 8, 3, Seq(
            ("max.message.bytes", Some("1048576")),
            ("compression.type", Some("zstd")))),
          CreateTopics.ReqTopic("wire_bad_parts", 0, 3, Nil),
          CreateTopics.ReqTopic("wire_bad_rf", 4, 2, Nil),
          CreateTopics.ReqTopic("wire_bad_config", 4, 3, Seq(
            ("cleanup.policy", Some("vacuum"))))),
          30000, validateOnly = true)),
        flexible = true)
      val (hdr, reqBody) = WireHeaders.decodeRequestFrame(reqFrame, flexible = true)
      val req = CreateTopics.decodeRequest(reqBody)
      def cfg(t: CreateTopics.ReqTopic, k: String): Option[String] =
        t.configs.find(_._1 == k).flatMap(_._2)
      val specs = req.topics.map(t => (t.name, t.numPartitions,
        t.replicationFactor.toInt, cfg(t, "max.message.bytes").map(_.toInt),
        cfg(t, "compression.type"), cfg(t, "cleanup.policy"),
        cfg(t, "message.timestamp.type")))
        .toDF("topic", "partitions", "replication_factor",
          "max_message_bytes", "compression", "cleanup_policy",
          "timestamp_type")
      val verdicts = graft.admin.Admin.validateTopicConfigs(specs)
        .select("topic", "error_code").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap // one row per spec
      val resp = CreateTopics.Response(0, req.topics.map { t =>
        val err = verdicts(t.name)
        if (err == 0)
          CreateTopics.RespTopic(t.name, new Array[Byte](16), 0, None, 0,
            t.numPartitions, t.replicationFactor, Some(t.configs))
        else
          CreateTopics.RespTopic(t.name, new Array[Byte](16), err.toShort,
            Some(s"validation failed with error $err"),
            if (err == 40) 40 else 0, -1, -1, None)
      })
      val respFrame = WireHeaders.encodeResponseFrame(hdr.correlationId,
        CreateTopics.encodeResponse(resp), flexibleHeader = true)
      val (corrBack, respBody) = WireHeaders.decodeResponseFrame(respFrame,
        flexibleHeader = true)
      CreateTopics.decodeResponse(respBody).topics.map(t =>
        (t.name, t.errorCode.toInt, t.numPartitions,
          t.replicationFactor.toInt, t.topicConfigErrorCode.toInt,
          t.configs.map(_.size).getOrElse(-1), corrBack == 61))
        .toDF("topic", "error_code", "num_partitions", "replication_factor",
          "config_error", "n_configs", "corr_ok")
        .orderBy("topic")
    }),

    "adm_api_versions" -> ((s, dir) =>
      // The full handler registry, oracle-pinned: any drift between the
      // advertised api surface and this contract fails the gate.
      graft.admin.Admin.apiVersions(s).orderBy("api_key")),

    "adm_find_coordinator" -> ((s, dir) => {
      // Golden-vector conformance at a 16-partition offsets topic: the
      // unsigned-murmur2 routing must land each group on its pinned
      // coordinator partition.
      import s.implicits._
      graft.admin.Admin.coordinatorFor(
        Seq("", "0123456789", "a", "ab", "abc", "hello-kafka", "redpanda", "user-42")
          .toDF("g"),
        col("g"), nPartitions = 16)
        .orderBy("group")
    }),

    "adm_wire_find_coordinator" -> ((s, dir) => {
      // The golden coordinator vectors over the wire: each group rides
      // its own flexible v3 FindCoordinator frame (api key 10, key_type
      // 0 = group); the answer node is the murmur2-routed coordinator
      // partition, surfaced as node-id/host/port and decoded back from
      // the response bytes. Request size varies with the group name,
      // response size with the node id's digits — both recomputed by
      // the oracle.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.FindCoordinator
      val groups = Seq("", "0123456789", "a", "ab", "abc", "hello-kafka",
        "redpanda", "user-42")
      val coord = graft.admin.Admin.coordinatorFor(groups.toDF("g"),
          col("g"), nPartitions = 16)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap // 8 rows
      groups.zipWithIndex.map { case (g, corr) =>
        val reqFrame = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(10, 3, corr, Some("graft")),
          FindCoordinator.encodeRequest(FindCoordinator.Request(g, 0)),
          flexible = true)
        val (hdr, reqBody) = WireHeaders.decodeRequestFrame(reqFrame, flexible = true)
        val req = FindCoordinator.decodeRequest(reqBody)
        val node = coord(req.key)
        val respFrame = WireHeaders.encodeResponseFrame(hdr.correlationId,
          FindCoordinator.encodeResponse(FindCoordinator.Response(0, 0, None,
            node, s"node-$node", 9092 + node)),
          flexibleHeader = true)
        val (corrBack, respBody) = WireHeaders.decodeResponseFrame(respFrame,
          flexibleHeader = true)
        val r = FindCoordinator.decodeResponse(respBody)
        (req.key, req.keyType.toInt, r.nodeId, r.host, r.port,
          r.errorCode.toInt, reqFrame.length, respFrame.length,
          corrBack == corr)
      }.toDF("group", "key_type", "node_id", "host", "port", "error_code",
        "req_bytes", "resp_bytes", "corr_ok")
        .orderBy("group")
    }),

    "adm_create_partitions" -> ((s, dir) => {
      // Partition growth 8 -> 12: history stays put; a re-produce of the
      // events batch routes across 12 partitions, continuing offsets from
      // each surviving partition's HWM and starting 8..11 at zero.
      val log = eventLog(s, dir).select(col("partition"), col("offset"), lit(false).as("is_new"))
      val batch = events(s, dir).select(col("user_id"),
        (col("event_id") + 10000000L).as("arrival"), lit(true).as("is_new"))
      graft.admin.Admin.createPartitions(log, batch, 12, col("user_id"), col("arrival"))
        .groupBy("partition")
        .agg(count(lit(1)).as("n"), (max("offset") + 1).as("hwm"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
        .orderBy("partition")
    }),

    "q5_offset_translation" -> ((s, dir) =>
      // Raft->kafka offset mapping over the marker-carrying log: fences
      // and control markers occupy raft offsets but are invisible to
      // consumers, so kafka offsets are the dense rank of data rows.
      TxnEngine.offsetTranslation(txnLog(s, dir))
        .where(col("kafka_offset").isNotNull)
        .select(col("partition"), col("offset").as("log_offset"), col("kafka_offset"))
        .orderBy("partition", "log_offset")),

    "adm_acls" -> ((s, dir) => {
      // ACL conformance corpus over the compacted binding log: literal
      // and prefixed patterns, wildcard principal/host, operation 'all',
      // deny precedence over an all-operations allow, tombstoned binding,
      // host-scoped entry, and the default-deny fallthrough.
      import s.implicits._
      val aclLog = Seq(
        (1L, "alice", "*", "topic", "literal", "events", "read", "allow", false),
        (2L, "alice", "*", "topic", "literal", "events", "write", "allow", false),
        (3L, "*", "*", "topic", "prefixed", "logs-", "read", "allow", false),
        (4L, "bob", "*", "topic", "literal", "events", "all", "allow", false),
        (5L, "bob", "*", "topic", "literal", "events", "write", "deny", false),
        (6L, "carol", "*", "group", "literal", "g1", "read", "allow", false),
        (7L, "alice", "*", "topic", "literal", "events", "write", "allow", true),
        (8L, "dave", "10.0.0.1", "topic", "literal", "events", "read", "allow", false))
        .toDF("seq", "principal", "host", "resource_type", "pattern_type",
          "resource_name", "operation", "permission", "deleted")
      val requests = Seq(
        ("alice", "10.0.0.9", "read", "topic", "events"),
        ("alice", "10.0.0.9", "write", "topic", "events"),
        ("anyone", "h", "read", "topic", "logs-2024"),
        ("anyone", "h", "read", "topic", "events"),
        ("bob", "h", "read", "topic", "events"),
        ("bob", "h", "write", "topic", "events"),
        ("carol", "h", "read", "group", "g1"),
        ("carol", "h", "read", "topic", "g1"),
        ("dave", "10.0.0.1", "read", "topic", "events"),
        ("dave", "10.0.0.2", "read", "topic", "events"))
        .toDF("principal", "host", "operation", "resource_type", "resource_name")
      graft.security.Acls.authorize(requests,
          graft.security.Acls.currentAcls(aclLog))
        .orderBy("principal", "host", "operation", "resource_type", "resource_name")
    }),

    "sec_scram_describe" -> ((s, dir) => {
      // describe_user_scram_credentials over the compacted credential
      // log (scram_credential.h stored in the controller log): a
      // rotation bumps iterations LWW, a tombstone deletes the user,
      // and key material never appears in the description.
      import s.implicits._
      import graft.security.Scram
      def cred(seq: Long, user: String, mech: Scram.Mechanism, pw: String, iters: Int) = {
        val (salt, stored, server, i) =
          Scram.makeCredential(pw, s"salt_$user".getBytes("UTF-8"), iters, mech)
        (seq, user, mech.name, salt, stored, server, i, false)
      }
      // a delete is a tombstone marker — no key material to derive
      def tomb(seq: Long, user: String, mech: Scram.Mechanism) =
        (seq, user, mech.name, Array.empty[Byte], Array.empty[Byte], Array.empty[Byte], 0, true)
      val log = Seq(
        cred(1L, "alice", Scram.Sha256, "a-1", 1024),
        cred(2L, "bob", Scram.Sha256, "b-1", 1024),
        cred(3L, "alice", Scram.Sha256, "a-2", 2048),
        cred(4L, "carol", Scram.Sha512, "c-1", 4096),
        tomb(5L, "bob", Scram.Sha256),
        cred(6L, "dave", Scram.Sha256, "d-1", 1024),
        cred(7L, "dave", Scram.Sha512, "d-1", 1024))
        .toDF("seq", "user", "mechanism", "salt", "stored_key", "server_key",
          "iterations", "deleted")
      Scram.describeCredentials(Scram.currentCredentials(log))
        .withColumnRenamed("user", "username")
        .orderBy("username", "mechanism")
    }),

    "sec_scram_auth" -> ((s, dir) => {
      // SASL authenticate as a batch operator: 50 users provisioned from
      // `customer` (distributed credential derivation — RFC 5802 Hi/
      // client-key/stored-key per user), then 60 login attempts where
      // every 3rd user presents a wrong password and users 51-60 were
      // never provisioned. The engine decides purely via the stored-key
      // crypto; the oracle re-derives the decision from the plaintext
      // scenario rule — they agree only if the key derivation is right.
      import s.implicits._
      import graft.security.Scram
      val users = T(s, dir, "customer").where(col("c_custkey") <= 60)
        .select(col("c_custkey").cast("long").as("k"),
          concat(lit("user_"), col("c_custkey")).as("user"))
      val creds = users.where(col("k") <= 50).select("user").as[String]
        .map { u =>
          val (salt, stored, server, i) = Scram.makeCredential(
            "pw_" + u, ("salt_" + u).getBytes("UTF-8"), 1024, Scram.Sha256)
          (u, "SCRAM-SHA-256", salt, stored, server, i)
        }
        .toDF("user", "mechanism", "salt", "stored_key", "server_key", "iterations")
      val attempts = users.select(col("user"), lit("SCRAM-SHA-256").as("mechanism"),
        when(col("k") % 3 === 0, lit("wrong-password"))
          .otherwise(concat(lit("pw_"), col("user"))).as("password"))
      Scram.authenticate(attempts, creds)
        .withColumnRenamed("user", "username")
        .orderBy("username")
    }),

    "sec_plain_auth" -> ((s, dir) => {
      // SASL/PLAIN (plain_authenticator.cc): the wire blob is
      // [authzid] NUL user NUL password, validated against the SCRAM
      // credential store. Planted defects by key: %13 authzid present,
      // %11 missing separator, %7 empty password (all malformed);
      // k>50 never provisioned; %3 wrong password; else authenticates.
      // The oracle replays the same precedence ladder in plaintext.
      import s.implicits._
      import graft.security.Scram
      val users = T(s, dir, "customer").where(col("c_custkey") <= 70)
        .select(col("c_custkey").cast("long").as("k"),
          concat(lit("user_"), col("c_custkey")).as("user"))
      val creds = users.where(col("k") <= 50).select("user").as[String]
        .map { u =>
          val (salt, stored, server, i) = Scram.makeCredential(
            "pw_" + u, ("salt_" + u).getBytes("UTF-8"), 1024, Scram.Sha256)
          (u, "SCRAM-SHA-256", salt, stored, server, i)
        }
        .toDF("user", "mechanism", "salt", "stored_key", "server_key", "iterations")
      val nul = lit("\u0000")
      val pw = concat(lit("pw_"), col("user"))
      val blob =
        when(col("k") % 13 === 0, concat(lit("authz"), nul, col("user"), nul, pw))
          .when(col("k") % 11 === 0, concat(nul, col("user"), pw))
          .when(col("k") % 7 === 0, concat(nul, col("user"), nul))
          .when(col("k") % 3 === 0, concat(nul, col("user"), nul, lit("wrong-password")))
          .otherwise(concat(nul, col("user"), nul, pw))
      val attempts = users.select(col("user").as("username"),
        encode(blob, "UTF-8").as("auth_bytes"))
      Scram.authenticatePlain(attempts, creds).orderBy("username")
    }),

    "sec_oidc_auth" -> ((s, dir) => {
      // SASL/OAUTHBEARER + OIDC (oidc_authenticator.cc): JWS tokens
      // signed per-kid, validated signature-first then the claim ladder
      // (iss, aud, exp, nbf), principal = mapped `sub`. Planted defects
      // by key (first match builds the token): %17 garbage, %13 unknown
      // kid, %11 wrong signing key, %7 wrong issuer, %5 wrong audience,
      // %3 expired, %2 not-yet-valid; else valid. now/skew are pinned so
      // the oracle re-derives every decision from the plaintext rule.
      import s.implicits._
      import graft.security.Oidc
      val now = 1700000000L
      val jwks = Seq(
        Oidc.Jwk("k1", "HS256", "secret-one".getBytes("UTF-8")),
        Oidc.Jwk("k2", "HS256", "secret-two".getBytes("UTF-8")))
      val secrets = jwks.map(j => j.kid -> j.material).toMap
      val users = T(s, dir, "customer").where(col("c_custkey") <= 60)
        .select(col("c_custkey").cast("long").as("k")).as[Long]
      val tokens = users.map { k =>
        def b64(b: Array[Byte]) =
          java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
        def sign(kid: String, input: String): Array[Byte] = {
          val m = javax.crypto.Mac.getInstance("HmacSHA256")
          m.init(new javax.crypto.spec.SecretKeySpec(secrets(kid), "HmacSHA256"))
          m.doFinal(input.getBytes("UTF-8"))
        }
        def jws(kid: String, signKid: String, iss: String, aud: String,
            exp: Long, nbf: Long): String = {
          val header = s"""{"alg":"HS256","kid":"$kid"}"""
          val payload = s"""{"iss":"$iss","aud":$aud,"sub":"sub-$k","exp":$exp,"nbf":$nbf}"""
          val si = b64(header.getBytes("UTF-8")) + "." + b64(payload.getBytes("UTF-8"))
          si + "." + b64(sign(signKid, si))
        }
        val kid = if (k % 2 == 0) "k1" else "k2"
        val other = if (kid == "k1") "k2" else "k1"
        val aud = """["graft","other-svc"]"""
        val token =
          if (k % 17 == 0) "not-a-jwt"
          // kX is not in the JWKS; signed with a real key so ONLY the
          // kid check fires
          else if (k % 13 == 0) jws("kX", kid, "https://idp.example", aud, now + 3600, now - 10)
          else if (k % 11 == 0) jws(kid, other, "https://idp.example", aud, now + 3600, now - 10)
          else if (k % 7 == 0) jws(kid, kid, "https://evil.example", aud, now + 3600, now - 10)
          else if (k % 5 == 0) jws(kid, kid, "https://idp.example", "\"wrong-svc\"", now + 3600, now - 10)
          else if (k % 3 == 0) jws(kid, kid, "https://idp.example", aud, now - 3600, now - 10)
          else if (k % 2 == 0) jws(kid, kid, "https://idp.example", aud, now + 3600, now + 3600)
          else jws(kid, kid, "https://idp.example", aud, now + 3600, now - 10)
        (k, token)
      }.toDF("k", "token")
      Oidc.validate(tokens, col("token"), jwks,
          issuer = "https://idp.example", audience = "graft",
          skewSeconds = 60L, nowEpoch = now,
          mappingRules = Seq(graft.security.PrincipalMapping.Rule(
            "^sub-([0-9]+)$", "oidc_$1")))
        // -1 for absent exp: a nullable int64 turns float64 in pandas /
        // the driver's hasher — the same canonicalization trap as raw
        // doubles (see txt_rarity)
        .select(col("k"), col("error"), col("principal"), col("sub"),
          coalesce(col("token_exp"), lit(-1L)).as("token_exp"))
        .orderBy("k")
    }),

    "sec_handshake" -> ((s, dir) => {
      // SASL handshake mechanism negotiation
      // (`kafka/server/handlers/sasl_handshake.cc`): 60 clients each
      // request one of six mechanisms (key mod 6). All five reference
      // mechanisms (SCRAM x2, PLAIN, GSSAPI, OAUTHBEARER) are in the
      // enabled-mechanisms config, so only the never-supported EXTERNAL
      // gets error 33 (UNSUPPORTED_SASL_MECHANISM) plus the enabled
      // list to retry with.
      val mechs = array(lit("SCRAM-SHA-256"), lit("SCRAM-SHA-512"),
        lit("PLAIN"), lit("GSSAPI"), lit("OAUTHBEARER"), lit("EXTERNAL"))
      val reqs = T(s, dir, "customer").where(col("c_custkey") <= 60)
        .select(concat(lit("client_"), col("c_custkey")).as("client"),
          element_at(mechs, (pmod(col("c_custkey"), lit(6)) + 1).cast("int"))
            .as("mechanism"))
      graft.security.Scram.handshake(reqs,
          Seq("SCRAM-SHA-256", "SCRAM-SHA-512", "PLAIN", "GSSAPI", "OAUTHBEARER"))
        .orderBy("client")
    }),

    "sec_wire_acls" -> ((s, dir) => {
      // The ACL control plane over the wire: one CreateAcls v3 frame
      // carrying six creations (two invalid — a prefixless principal
      // and resource type 99 — answered 42 with the reference's
      // conversion messages, security.h:33-107), a DescribeAcls v3
      // MATCH-filter read served from the engine's compacted live set
      // through filterAcls (acl.cc:496-527: literal equality, stored
      // '*' wildcard, prefix evaluation), a DeleteAcls v3 frame whose
      // valid filter tombstones every User:bob binding and whose
      // invalid filter errors per-filter without touching the store,
      // and a second describe proving the deletion. All rows decode
      // from response bytes.
      import s.implicits._
      import graft.functions.WireHeaders
      import WireHeaders.{AclEnums => E, CreateAcls, DescribeAcls, DeleteAcls}
      import graft.security.Acls
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String,
        Int, Int, Option[String], Option[String], Option[String],
        Option[String], Option[String], Option[String], Option[String],
        Option[String], Boolean)]
      val aclLog = scala.collection.mutable.ArrayBuffer.empty[(Long, String,
        String, String, String, String, String, String, Boolean)]
      var nextSeq = 0L
      def logDf = aclLog.toSeq.toDF("seq", "principal", "host",
        "resource_type", "pattern_type", "resource_name", "operation",
        "permission", "deleted")
      def convert(a: CreateAcls.Acl): Either[String,
          (String, String, String, String, String, String, String)] =
        try {
          if (a.resourceName.isEmpty)
            throw new IllegalArgumentException("Empty resource name")
          Right((E.validatePrincipal(a.principal), a.host,
            E.resourceType(a.resourceType), E.patternType(a.patternType),
            a.resourceName, E.operation(a.operation),
            E.permission(a.permission)))
        } catch { case e: IllegalArgumentException => Left(e.getMessage) }
      def optCode(b: Byte, m: Map[Byte, String]): Option[String] =
        if (b == 1) None else Some(m.getOrElse(b,
          throw new IllegalArgumentException(s"Invalid filter code: $b")))
      def runFilter(rtype: Byte, rname: Option[String], ptype: Byte,
          principal: Option[String], host: Option[String], op: Byte,
          perm: Byte) = {
        principal.foreach(E.validatePrincipal) // filters validate too
        Acls.filterAcls(Acls.currentAcls(logDf),
          optCode(rtype, E.ResourceTypes), rname,
          if (ptype == 1) None
          else if (ptype == 2) Some("match")
          else Some(E.patternType(ptype)),
          principal, host,
          optCode(op, E.Operations), optCode(perm, E.Permissions))
          .collect() // the live ACL set is control-plane-bounded
          .map(r => (r.getAs[String]("principal"), r.getAs[String]("host"),
            r.getAs[String]("resource_type"), r.getAs[String]("pattern_type"),
            r.getAs[String]("resource_name"), r.getAs[String]("operation"),
            r.getAs[String]("permission")))
          .sortBy(x => (x._3, x._5, x._1))
      }

      // ---- step 1: CreateAcls v3
      val createReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(30, 3, 31, Some("graft")),
        CreateAcls.encodeRequest(CreateAcls.Request(Seq(
          CreateAcls.Acl(2, "payments", 3, "User:alice", "*", 3, 3),
          CreateAcls.Acl(2, "pay", 4, "User:bob", "*", 4, 3),
          CreateAcls.Acl(3, "analytics", 3, "User:bob", "*", 3, 2),
          CreateAcls.Acl(2, "*", 3, "User:*", "*", 8, 3),
          CreateAcls.Acl(2, "payments-eu", 3, "alice", "*", 4, 3),
          CreateAcls.Acl(99.toByte, "orders", 3, "User:carol", "*", 3, 3)))),
        flexible = true)
      val (ch, cBody) = WireHeaders.decodeRequestFrame(createReqF, flexible = true)
      val createReq = CreateAcls.decodeRequest(cBody)
      val converted = createReq.creations.map(convert)
      converted.foreach {
        case Right((p, h, rt, pt, rn, op, pm)) =>
          aclLog += ((nextSeq, p, h, rt, pt, rn, op, pm, false)); nextSeq += 1
        case Left(_) => ()
      }
      val createRespF = WireHeaders.encodeResponseFrame(ch.correlationId,
        CreateAcls.encodeResponse(CreateAcls.Response(0, converted.map {
          case Right(_) => (0.toShort, None)
          case Left(m) => (42.toShort, Some(m))
        })), flexibleHeader = true)
      val (cCorr, cRespBody) = WireHeaders.decodeResponseFrame(createRespF,
        flexibleHeader = true)
      CreateAcls.decodeResponse(cRespBody).results.zipWithIndex.foreach {
        case ((err, msg), i) =>
          val a = createReq.creations(i)
          rows += ((1, "create", i, err.toInt, msg, Some(a.principal),
            Some(a.host), E.ResourceTypes.get(a.resourceType),
            E.PatternTypes.get(a.patternType), Some(a.resourceName),
            E.Operations.get(a.operation), E.Permissions.get(a.permission),
            cCorr == 31))
      }

      // ---- steps 2 & 4: DescribeAcls v3 with a MATCH filter
      def describe(step: Int, corr: Int): Unit = {
        val reqF = WireHeaders.encodeRequestFrame(
          WireHeaders.RequestHeader(29, 3, corr, Some("graft")),
          DescribeAcls.encodeRequest(DescribeAcls.Request(2,
            Some("payments"), 2, None, None, 1, 1)), flexible = true)
        val (h, body) = WireHeaders.decodeRequestFrame(reqF, flexible = true)
        val req = DescribeAcls.decodeRequest(body)
        val matched = runFilter(req.resourceTypeFilter,
          req.resourceNameFilter, req.patternTypeFilter,
          req.principalFilter, req.hostFilter, req.operation, req.permission)
        val resources = matched.groupBy(x => (x._3, x._5, x._4)).toSeq
          .sortBy(_._1).map { case ((rt, rn, pt), as) =>
            DescribeAcls.Resource(E.ResourceTypeCodes(rt), rn,
              E.PatternTypeCodes(pt), as.toSeq.map(a =>
                DescribeAcls.RespAcl(a._1, a._2, E.OperationCodes(a._6),
                  E.PermissionCodes(a._7))))
          }
        val respF = WireHeaders.encodeResponseFrame(h.correlationId,
          DescribeAcls.encodeResponse(DescribeAcls.Response(0, 0, None,
            resources)), flexibleHeader = true)
        val (corrBack, rb) = WireHeaders.decodeResponseFrame(respF,
          flexibleHeader = true)
        DescribeAcls.decodeResponse(rb).resources.foreach { res =>
          res.acls.foreach { a =>
            rows += ((step, "describe", -1, 0, None, Some(a.principal),
              Some(a.host), Some(E.resourceType(res.resourceType)),
              Some(E.patternType(res.patternType)), Some(res.resourceName),
              Some(E.operation(a.operation)),
              Some(E.permission(a.permission)), corrBack == corr))
          }
        }
      }
      describe(2, 32)

      // ---- step 3: DeleteAcls v3 — one valid filter, one invalid
      val delReqF = WireHeaders.encodeRequestFrame(
        WireHeaders.RequestHeader(31, 3, 33, Some("graft")),
        DeleteAcls.encodeRequest(DeleteAcls.Request(Seq(
          DeleteAcls.Filter(1, None, 1, Some("User:bob"), None, 1, 1),
          DeleteAcls.Filter(1, None, 1, Some("bob"), None, 1, 1)))),
        flexible = true)
      val (dh, dBody) = WireHeaders.decodeRequestFrame(delReqF, flexible = true)
      val delReq = DeleteAcls.decodeRequest(dBody)
      val delResults = delReq.filters.map { f =>
        try {
          val matched = runFilter(f.resourceTypeFilter, f.resourceNameFilter,
            f.patternTypeFilter, f.principalFilter, f.hostFilter,
            f.operation, f.permission)
          matched.foreach { m =>
            aclLog += ((nextSeq, m._1, m._2, m._3, m._4, m._5, m._6, m._7,
              true)) // tombstone
            nextSeq += 1
          }
          DeleteAcls.FilterResult(0, None, matched.toSeq.map(m =>
            DeleteAcls.MatchingAcl(0, None, E.ResourceTypeCodes(m._3), m._5,
              E.PatternTypeCodes(m._4), m._1, m._2, E.OperationCodes(m._6),
              E.PermissionCodes(m._7))))
        } catch {
          case e: IllegalArgumentException =>
            DeleteAcls.FilterResult(42, Some(e.getMessage), Nil)
        }
      }
      val delRespF = WireHeaders.encodeResponseFrame(dh.correlationId,
        DeleteAcls.encodeResponse(DeleteAcls.Response(0, delResults)),
        flexibleHeader = true)
      val (dCorr, dRespBody) = WireHeaders.decodeResponseFrame(delRespF,
        flexibleHeader = true)
      DeleteAcls.decodeResponse(dRespBody).results.zipWithIndex.foreach {
        case (fr, i) =>
          if (fr.matchingAcls.isEmpty)
            rows += ((3, "delete", i, fr.errorCode.toInt, fr.errorMessage,
              None, None, None, None, None, None, None, dCorr == 33))
          else fr.matchingAcls.foreach { m =>
            rows += ((3, "delete", i, m.errorCode.toInt, m.errorMessage,
              Some(m.principal), Some(m.host),
              Some(E.resourceType(m.resourceType)),
              Some(E.patternType(m.patternType)), Some(m.resourceName),
              Some(E.operation(m.operation)),
              Some(E.permission(m.permission)), dCorr == 33))
          }
      }

      describe(4, 34)

      rows.toSeq.toDF("step", "api", "item", "error_code", "error_message",
        "principal", "host", "resource_type", "pattern_type",
        "resource_name", "operation", "permission", "corr_ok")
        .orderBy("step", "item", "resource_type", "resource_name", "principal")
    }),

    "sec_wire_sasl" -> ((s, dir) => {
      // The full SASL/SCRAM conversation over the wire: SaslHandshake
      // v1 picks the mechanism, then every RFC 5802 message rides its
      // own SaslAuthenticate v2 flexible frame through a byte-driven
      // server FSM (scram_authenticator.cc handle_client_first /
      // handle_client_final; failures surface as error 58 with the
      // errc message per kafka/server/server.cc:470-541). Seven
      // scenarios: clean SHA-256 and SHA-512 exchanges (mutual auth —
      // the client checks v= against its own server key), a wrong
      // password (fails at client-final), an unknown user / authzid
      // mismatch / below-minimum iterations (each rejected at
      // client-first), and an unsupported mechanism (handshake 33).
      // Every frame size is a closed-form law the oracle recomputes.
      import graft.security.{SaslWire, Scram}
      def salt(u: String): Array[Byte] =
        java.security.MessageDigest.getInstance("SHA-256")
          .digest((u + "/salt").getBytes("UTF-8")).take(12)
      def cred(u: String, pw: String, mech: Scram.Mechanism, iters: Int) = {
        val (sl, stored, server, it) = Scram.makeCredential(pw, salt(u), iters, mech)
        (u, mech.name) -> SaslWire.Cred(sl, stored, server, it)
      }
      val creds = Map(
        cred("alice", "alice-secret", Scram.Sha256, 4096),
        cred("bob", "bob-secret", Scram.Sha512, 4096),
        cred("carol", "carol-secret", Scram.Sha256, 4096),
        cred("frank", "frank-secret", Scram.Sha256, 1024))
      def cn(u: String) = (u + "00000000").take(8)
      def sn(u: String) = ("s" + u + "00000000").take(8)
      val attempts = Seq(
        SaslWire.Attempt("s1_ok_256", "alice", "SCRAM-SHA-256",
          "alice-secret", cn("alice"), sn("alice"), None),
        SaslWire.Attempt("s2_wrong_pw", "alice", "SCRAM-SHA-256",
          "not-the-password", cn("alice"), sn("alice"), None),
        SaslWire.Attempt("s3_ok_512", "bob", "SCRAM-SHA-512",
          "bob-secret", cn("bob"), sn("bob"), None),
        SaslWire.Attempt("s4_unknown_user", "eve", "SCRAM-SHA-256",
          "whatever", cn("eve"), sn("eve"), None),
        SaslWire.Attempt("s5_authzid_mismatch", "carol", "SCRAM-SHA-256",
          "carol-secret", cn("carol"), sn("carol"), Some("other")),
        SaslWire.Attempt("s6_low_iterations", "frank", "SCRAM-SHA-256",
          "frank-secret", cn("frank"), sn("frank"), None),
        SaslWire.Attempt("s7_bad_mechanism", "dave", "SCRAM-SHA-224",
          "whatever", cn("dave"), sn("dave"), None))
      SaslWire.run(s, attempts, creds).orderBy("scenario")
    }),

    "sec_gssapi_principal" -> ((s, dir) => {
      // GSSAPI principal-to-local rules (gssapi_rule.h:24,
      // gssapi_principal_mapper.h:47): the reference's own test corpus —
      // three rule sets (plain, /L, /U) over parsed kerberos names —
      // mapped by the one-projection rule fold. Oracle pins each
      // expected local name (the engine must reproduce them; same
      // pinned-golden-vector pattern as op_murmur2_routing).
      import s.implicits._
      import graft.security.Gssapi
      val setA = (Gssapi.parseRules(Seq(
        "RULE:[1:$1](App\\..*)s/App\\.(.*)/$1/g",
        "RULE:[2:$1](App\\..*)s/App\\.(.*)/$1/g",
        "RULE:[2:$1data$2](redpanda.*)",
        "DEFAULT")), "REALM.com")
      val setB = (Gssapi.parseRules(Seq(
        "RULE:[1:$1]/L",
        "RULE:[2:$1](Test.*)s/ABC///L",
        "RULE:[2:$1](ABC.*)s/ABC/XYZ/g/L",
        "RULE:[2:$1](App\\..*)s/App\\.(.*)/$1/g/L",
        "RULE:[2:$1]/L",
        "DEFAULT")), "REALM.COM")
      val setC = (Gssapi.parseRules(Seq(
        "RULE:[1:$1]/U",
        "RULE:[2:$1](Test.*)s/ABC///U",
        "RULE:[2:$1](ABC.*)s/ABC/XYZ/g/U",
        "RULE:[2:$1](App\\..*)s/App\\.(.*)/$1/g/U",
        "RULE:[2:$1]/U",
        "DEFAULT")), "REALM.COM")
      val corpus = Seq(
        (1, "A", "App.service-name/example.com@REALM.com"),
        (2, "A", "App.service-name@REALM.com"),
        (3, "A", "user/host@REALM.com"),
        (4, "A", "redpanda/example.com@REALM.com"),
        (5, "B", "User@REALM.com"),
        (6, "B", "TestABC/host@FOO.COM"),
        (7, "B", "ABC_User_ABC/host@FOO.COM"),
        (8, "B", "App.SERVICE-name/example.com@REALM.COM"),
        (9, "B", "User/root@REALM.COM"),
        (10, "C", "User@REALM.com"),
        (11, "C", "TestABC/host@FOO.COM"),
        (12, "C", "ABC_User_ABC/host@FOO.COM"),
        (13, "C", "App.SERVICE-name/example.com@REALM.COM"),
        (14, "C", "User/root@REALM.COM"))
        .toDF("k", "rule_set", "gssapi_name")
      Seq(("A", setA), ("B", setB), ("C", setC)).map { case (tag, (rules, realm)) =>
          Gssapi.mapPrincipals(corpus.where(col("rule_set") === tag),
            col("gssapi_name"), realm, rules)
            .select(col("k"), col("rule_set"), col("gssapi_name"),
              col("principal").as("mapped"))
        }
        .reduce(_ unionByName _)
        .orderBy("k")
    }),

    "s2_fetch_follower" -> ((s, dir) => {
      // KIP-392 rack-aware fetch-from-follower (fetch.cc:1841): 48
      // consumers (rack r1 / r2 / none by key mod 3) probe 4 partitions
      // whose replica sets cover the full decision surface — leader
      // default, same-rack max-HW pick with lowest-node tie-break,
      // maintenance and dead replicas filtered, not-caught-up replicas
      // (leo < fetch_offset) skipped, and no-eligible -> stay on leader.
      import s.implicits._
      val nodes = Seq(
        (0L, "r1", false), (1L, "r1", true), (2L, "r2", false),
        (3L, "r2", false), (4L, "r1", false))
        .toDF("node_id", "rack", "maintenance")
      val replicas = Seq(
        ("t", 0, 0L, true, 100L, 110L, true),
        ("t", 0, 2L, false, 90L, 100L, true),
        ("t", 0, 4L, false, 100L, 100L, true),
        ("t", 1, 2L, true, 80L, 90L, true),
        ("t", 1, 1L, false, 80L, 120L, true),
        ("t", 1, 4L, false, 70L, 80L, true),
        ("t", 2, 3L, true, 60L, 60L, true),
        ("t", 2, 0L, false, 60L, 60L, false),
        ("t", 2, 2L, false, 50L, 55L, true),
        ("t", 3, 0L, true, 119L, 119L, true),
        ("t", 3, 3L, false, 119L, 119L, true),
        ("t", 3, 2L, false, 119L, 119L, true))
        .toDF("topic", "partition", "node_id", "is_leader",
          "high_watermark", "log_end_offset", "is_alive")
      val consumers = T(s, dir, "customer").where(col("c_custkey") <= 48)
        .select(concat(lit("client_"), col("c_custkey")).as("client"),
          lit("t").as("topic"),
          pmod(col("c_custkey"), lit(4)).cast("int").as("partition"),
          (col("c_custkey") * 7 % 120).as("fetch_offset"),
          when(pmod(col("c_custkey"), lit(3)) === 0, "r1")
            .when(pmod(col("c_custkey"), lit(3)) === 1, "r2").as("rack"))
      graft.log.ReplicaSelector.selectPreferredReplicas(consumers, replicas, nodes)
        .orderBy("client")
    }),

    "s2_fetch_pid" -> ((s, dir) => {
      // Adaptive fetch debounce (fetch_pid_controller.cc:62): per-shard
      // PID over a deterministic reactor-load series derived from
      // events — alternating saturated/idle kilo-windows, a varying
      // fetch-group share, and every 97th sample out-of-range (busy >
      // dt) to exercise the carry path. Integral micro-unit arithmetic
      // end to end; the oracle replays the fold as a recursive CTE.
      val sm = events(s, dir, fan = false).selectExpr(
        "concat('s', user_id % 4) AS shard",
        "event_id AS seq",
        "1 + event_id % 4 AS dt_ms",
        """CASE WHEN event_id % 97 = 0 THEN (1 + event_id % 4) + 5
               WHEN (event_id div 1000) % 2 = 0 THEN 1 + event_id % 4
               ELSE (1 + event_id % 4) div 2 END AS busy_ms""",
        "((1 + event_id % 4) * (1 + event_id % 3)) div 4 AS sg_ms")
      graft.admin.FetchPid.fetchDelays(sm,
          col("shard"), col("seq"), col("dt_ms"), col("busy_ms"), col("sg_ms"),
          pMicro = 50L, iMicro = 2L, dMicro = 10L,
          targetPm = 400L, maxDelayMs = 100L)
        .orderBy("shard", "seq")
    }),

    "sec_role_acls" -> ((s, dir) => {
      // RBAC (role.h/role_store.h): Role:ops reads+writes topic events,
      // Role:admins holds ALL on the prefixed logs- space; eve's
      // user-level write deny beats her role allow (deny precedence
      // ACROSS identities); frank has a direct allow and no roles; gus
      // matches nothing and falls to default deny. Oracle pins each
      // hand-derived decision.
      import s.implicits._
      val aclLog = Seq(
        (1L, "Role:ops", "*", "topic", "literal", "events", "read", "allow", false),
        (2L, "Role:ops", "*", "topic", "literal", "events", "write", "allow", false),
        (3L, "Role:admins", "*", "topic", "prefixed", "logs-", "all", "allow", false),
        (4L, "eve", "*", "topic", "literal", "events", "write", "deny", false),
        (5L, "frank", "*", "topic", "literal", "events", "read", "allow", false))
        .toDF("seq", "principal", "host", "resource_type", "pattern_type",
          "resource_name", "operation", "permission", "deleted")
      val roles = Seq(("ops", "dora"), ("ops", "eve"), ("admins", "dora"))
        .toDF("role", "member")
      val requests = Seq(
        ("dora", "h", "read", "topic", "events"),
        ("dora", "h", "write", "topic", "logs-7"),
        ("eve", "h", "read", "topic", "events"),
        ("eve", "h", "write", "topic", "events"),
        ("frank", "h", "read", "topic", "events"),
        ("frank", "h", "write", "topic", "events"),
        ("gus", "h", "read", "topic", "events"))
        .toDF("principal", "host", "operation", "resource_type", "resource_name")
      graft.security.Acls.authorizeWithRoles(requests,
          graft.security.Acls.currentAcls(aclLog), roles)
        .orderBy("principal", "operation", "resource_name")
    }),

    "sec_principal_mapping" -> ((s, dir) => {
      // mTLS DN -> local principal via ordered first-match rules
      // (mtls_rule.h / Kafka ssl.principal.mapping.rules): service certs
      // (CN=svc.N) hit the earlier rule and upper-case; other CNs
      // extract and lower-case; DNs with no CN pass through verbatim
      // (DEFAULT). One codegen'd nested-conditional projection.
      import graft.security.PrincipalMapping, PrincipalMapping.Rule
      val dns = T(s, dir, "customer").where(col("c_custkey") <= 100)
        .select(col("c_custkey").cast("long").as("k"))
        .select(col("k"),
          when(col("k") % 7 === 0,
            concat(lit("CN=svc."), col("k"), lit(",O=acme")))
            .when(col("k") % 5 === 0,
              concat(lit("O=acme,L=metropolis-"), col("k")))
            .otherwise(concat(lit("CN=User_"), col("k"), lit(",OU=eng,O=acme")))
            .as("dn"))
      PrincipalMapping.mapPrincipal(dns, col("dn"), Seq(
          Rule("^CN=svc\\.([0-9]+),.*$", "svc-$1", toUpper = true),
          Rule("^CN=([^,]*),.*$", "$1", toLower = true)))
        .orderBy("k")
    }),

    "sec_audit_coalesce" -> ((s, dir) => {
      // Audit-log coalescing: API events map to auditable records
      // (purchase/view -> produce/fetch audit classes, the rest are
      // management events); only produce+fetch are ENABLED (management
      // events drop at admission — the event-type bitset), topic
      // t3 and principal u7 are excluded, and within each 1000-seq
      // drain interval identical (principal, type, topic, operation)
      // events coalesce into ONE record with a count — the oracle
      // replays admission and coalescing in SQL.
      val api = events(s, dir).select(
        col("event_id").as("seq"),
        concat(lit("u"), pmod(col("user_id"), lit(10)).cast("string")).as("principal"),
        when(col("event_type") === "purchase", "produce")
          .when(col("event_type") === "view", "fetch")
          .otherwise("mgmt").as("event_type"),
        concat(lit("t"), pmod(col("user_id"), lit(4)).cast("string")).as("topic"),
        when(col("event_type") === "purchase", "write")
          .when(col("event_type") === "view", "read")
          .otherwise("describe").as("operation"))
      graft.security.Audit.coalesce(api, drainIntervalLen = 1000L,
          enabledTypes = Seq("produce", "fetch"),
          excludedTopics = Seq("t3"), excludedPrincipals = Seq("u7"))
        .orderBy("interval", "principal", "event_type", "topic", "operation")
    }),

    "sec_audit_stream" -> ((s, dir) => {
      // The audit drain loop as it actually runs — continuous: same
      // admission + coalescing as sec_audit_coalesce, but each drain
      // interval closes on the watermark and emits its records exactly
      // once; the still-open final interval is flushed from checkpointed
      // state by coalesceStream's built-in drain (no sentinel staging).
      val inDir = stagedEventsStream(s, dir, sentinel = false, single = true)
      val out = java.nio.file.Files.createTempDirectory("graft_auds").toString
      val raw = graft.streaming.Transforms.PathInput(
        inDir, s.read.parquet(s"$dir/events.parquet").schema,
        maxFilesPerTrigger = Some(1)).stream(s)
      val api = raw.select(
        col("event_id").as("seq"),
        concat(lit("u"), pmod(col("user_id"), lit(10)).cast("string")).as("principal"),
        when(col("event_type") === "purchase", "produce")
          .when(col("event_type") === "view", "fetch")
          .otherwise("mgmt").as("event_type"),
        concat(lit("t"), pmod(col("user_id"), lit(4)).cast("string")).as("topic"),
        when(col("event_type") === "purchase", "write")
          .when(col("event_type") === "view", "read")
          .otherwise("describe").as("operation"))
      graft.security.Audit.coalesceStream(api, s"$out/data", s"$out/ckpt",
          drainIntervalLen = 1000L, enabledTypes = Seq("produce", "fetch"),
          excludedTopics = Seq("t3"), excludedPrincipals = Seq("u7"))
        .awaitTermination()
      s.read.parquet(s"$out/data")
        .orderBy("interval", "principal", "event_type", "topic", "operation")
    }),
  )

  def oracleSql: Map[String, String] = Map(

    // Topic configs over the wire: the incremental-alter validation
    // ladder with the handler's message text, then the default-overlay
    // describe with per-resource errors and source codes.
    "adm_wire_configs" ->
      """SELECT CAST(step AS INTEGER) AS step, api, CAST(item AS INTEGER) AS item,
        |  resource_type, resource, "key", "value", source,
        |  CAST(error_code AS INTEGER) AS error_code, error_message,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'alter', 0, 'topic', 'events', NULL, NULL, NULL, 0, NULL),
        |  (1, 'alter', 1, 'topic', 'events', NULL, NULL, NULL, 40,
        |   'append operation isn''t supported for redpanda.remote.read configuration'),
        |  (1, 'alter', 2, 'topic', 'events', NULL, NULL, NULL, 40,
        |   'set operation for configuration max.message.bytes requires a value to be set'),
        |  (1, 'alter', 3, 'topic', 'events', NULL, NULL, NULL, 40,
        |   'remove operation for configuration retention.ms requires a value to be empty'),
        |  (1, 'alter', 4, 'topic', 'events', NULL, NULL, NULL, 40,
        |   'invalid operation code 7'),
        |  (1, 'alter', 5, 'topic', 'metrics', NULL, NULL, NULL, 0, NULL),
        |  (2, 'alter', 0, 'topic', 'events', NULL, NULL, NULL, 0, NULL),
        |  (3, 'describe', 0, 'topic', 'events', 'cleanup.policy', 'compact', 'DYNAMIC_TOPIC_CONFIG', 0, NULL),
        |  (3, 'describe', 0, 'topic', 'events', 'compression.type', 'producer', 'DEFAULT_CONFIG', 0, NULL),
        |  (3, 'describe', 0, 'topic', 'events', 'delete.retention.ms', '86400000', 'DEFAULT_CONFIG', 0, NULL),
        |  (3, 'describe', 0, 'topic', 'events', 'message.timestamp.type', 'CreateTime', 'DEFAULT_CONFIG', 0, NULL),
        |  (3, 'describe', 0, 'topic', 'events', 'retention.bytes', '-1', 'DEFAULT_CONFIG', 0, NULL),
        |  (3, 'describe', 0, 'topic', 'events', 'retention.ms', '604800000', 'DEFAULT_CONFIG', 0, NULL),
        |  (3, 'describe', 1, 'topic', 'metrics', 'retention.ms', '5000', 'DYNAMIC_TOPIC_CONFIG', 0, NULL),
        |  (3, 'describe', 2, 'topic', 'bad name!', NULL, NULL, NULL, 17, NULL),
        |  (3, 'describe', 3, 'topic', 'ghost', NULL, NULL, NULL, 3, NULL),
        |  (3, 'describe', 4, 'broker_logger', 'kafka', NULL, NULL, NULL, 42, NULL))
        | t(step, api, item, resource_type, resource, "key", "value", source,
        |   error_code, error_message)
        | ORDER BY step, item, "key"""".stripMargin,

    "adm_describe_configs" ->
      """SELECT * FROM (VALUES
        |  ('events', 'cleanup.policy', 'compact,delete', 'DYNAMIC_TOPIC_CONFIG'),
        |  ('events', 'compression.type', 'producer', 'DEFAULT_CONFIG'),
        |  ('events', 'delete.retention.ms', '86400000', 'DEFAULT_CONFIG'),
        |  ('events', 'message.timestamp.type', 'CreateTime', 'DEFAULT_CONFIG'),
        |  ('events', 'retention.bytes', '-1', 'DEFAULT_CONFIG'),
        |  ('events', 'retention.ms', '259200000', 'DYNAMIC_TOPIC_CONFIG'))
        | t(topic, key, value, source) ORDER BY key""".stripMargin,

    "adm_topic_catalog" ->
      """SELECT * FROM (VALUES
        |  ('t1', 16, 'delete'), ('t3', 2, 'compact,delete'), ('t4', 6, 'compact'))
        | t(topic, partitions, cleanup_policy) ORDER BY topic""".stripMargin,

    "adm_config_cleanup" ->
      s"""$LogCte SELECT partition, count(*) AS survivors, max("offset") AS max_offset FROM (
         |  SELECT partition, user_id, "offset" FROM log
         |  WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
         |  QUALIFY row_number() OVER (PARTITION BY partition, user_id ORDER BY "offset" DESC) = 1)
         | GROUP BY 1 ORDER BY 1""".stripMargin,

    "adm_incremental_alter" ->
      """SELECT * FROM (VALUES
        |  ('events', 'cleanup.policy', 'compact,delete', 'DYNAMIC_TOPIC_CONFIG'),
        |  ('events', 'compression.type', 'producer', 'DEFAULT_CONFIG'),
        |  ('events', 'delete.retention.ms', '86400000', 'DEFAULT_CONFIG'),
        |  ('events', 'message.timestamp.type', 'CreateTime', 'DEFAULT_CONFIG'),
        |  ('events', 'retention.bytes', '-1', 'DEFAULT_CONFIG'),
        |  ('events', 'retention.ms', '604800000', 'DEFAULT_CONFIG'))
        | t(topic, key, value, source) ORDER BY key""".stripMargin,

    "adm_client_quotas" ->
      """WITH clients AS (
        |  SELECT DISTINCT 'client-' || CAST(user_id AS VARCHAR) AS client_id FROM events),
        | keys(key) AS (VALUES ('producer_byte_rate'), ('consumer_byte_rate'), ('request_percentage')),
        | qlog(seq, entity_name, key, value, op) AS (VALUES
        |  (1, NULL, 'producer_byte_rate', 1048576.0, 'set'),
        |  (2, 'client-5', 'producer_byte_rate', 2097152.0, 'set'),
        |  (3, 'client-7', 'consumer_byte_rate', 500000.0, 'set'),
        |  (4, 'client-5', 'producer_byte_rate', NULL, 'remove'),
        |  (5, 'client-9', 'producer_byte_rate', 4194304.0, 'set'),
        |  (6, NULL, 'request_percentage', 50.0, 'set'),
        |  (7, NULL, 'request_percentage', NULL, 'remove')),
        | liveset AS (SELECT * FROM qlog
        |  QUALIFY row_number() OVER (PARTITION BY entity_name, key ORDER BY seq DESC) = 1),
        | ex AS (SELECT entity_name AS client_id, key, value AS v_exact FROM liveset
        |        WHERE entity_name IS NOT NULL AND op = 'set'),
        | df AS (SELECT key, value AS v_default FROM liveset
        |        WHERE entity_name IS NULL AND op = 'set')
        | SELECT c.client_id, k.key,
        |        COALESCE(v_exact, v_default, -1.0) AS value,
        |        CASE WHEN v_exact IS NOT NULL THEN 'CLIENT'
        |             WHEN v_default IS NOT NULL THEN 'DEFAULT'
        |             ELSE 'NONE' END AS source
        | FROM clients c CROSS JOIN keys k
        | LEFT JOIN ex ON ex.client_id = c.client_id AND ex.key = k.key
        | LEFT JOIN df ON df.key = k.key
        | ORDER BY c.client_id, k.key""".stripMargin,

    "adm_delete_groups" ->
      """WITH commits AS (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS "group", 'events' AS topic,
        |         CAST(user_id % 8 AS INTEGER) AS partition, event_id AS committed_offset,
        |         event_id AS commit_seq
        |  FROM events WHERE event_type = 'purchase'),
        | dels("group", del_seq) AS (VALUES ('g0', 1000000000), ('g1', 1000)),
        | surv AS (
        |  SELECT c.* FROM commits c LEFT JOIN dels d USING ("group")
        |  WHERE d.del_seq IS NULL OR c.commit_seq > d.del_seq)
        | SELECT "group", topic, partition, committed_offset FROM surv
        | QUALIFY row_number() OVER (PARTITION BY "group", topic, partition
        |                            ORDER BY commit_seq DESC) = 1
        | ORDER BY "group", partition""".stripMargin,

    // Violations re-derived declaratively; the kinds/ids are fixed by
    // the scenario tables.
    "adm_balancer_violations" ->
      """SELECT * FROM (VALUES
        |  ('disk_full', 3, '', -1),
        |  ('node_decommissioning', 4, '', -1),
        |  ('node_unavailable', 6, '', -1),
        |  ('rack_constraint', -1, 'b', 0))
        | t(kind, node_id, topic, partition)
        | ORDER BY kind, node_id, topic, partition""".stripMargin,

    // The deterministic one-round plan, traced by hand from the
    // priority order + allocation rule (rack-diverse, disk-headroom,
    // most-free, lowest-id ties).
    "adm_balancer_plan" ->
      """SELECT * FROM (VALUES
        |  (0, 'a', 0, 4, 5, 'node_decommissioning'),
        |  (1, 'e', 0, 6, 5, 'node_unavailable'),
        |  (2, 'f', 0, 6, -1, 'failed'),
        |  (3, 'b', 0, 0, 5, 'rack_constraint_repair'),
        |  (4, 'c', 0, 3, 2, 'disk_full'))
        | t(ord, topic, partition, from_node, to_node, reason)
        | ORDER BY ord""".stripMargin,

    // Health rollup: counts re-derived from the replica VALUES; node 2
    // is stale (45s > 30s); used_permille is exact-integer arithmetic.
    "adm_cluster_health" ->
      """WITH reps(topic, partition, node_id, is_leader) AS (VALUES
        |  ('t', 0, 0, TRUE), ('t', 0, 1, FALSE), ('t', 0, 2, FALSE),
        |  ('t', 1, 0, TRUE), ('t', 1, 1, FALSE), ('t', 1, 3, FALSE),
        |  ('t', 2, 0, TRUE), ('t', 2, 2, FALSE), ('t', 2, 3, FALSE),
        |  ('t', 3, 0, TRUE), ('t', 3, 1, FALSE), ('t', 3, 2, FALSE),
        |  ('u', 0, 0, TRUE), ('u', 0, 1, FALSE), ('u', 0, 2, FALSE),
        |  ('u', 1, 1, TRUE), ('u', 1, 2, FALSE), ('u', 1, 3, FALSE)),
        | c AS (SELECT node_id, CAST(count(*) AS BIGINT) AS n_replicas,
        |         CAST(sum(CASE WHEN is_leader THEN 1 ELSE 0 END) AS BIGINT) AS n_leaders
        |       FROM reps GROUP BY 1),
        | n(node_id, alive, total, free) AS (VALUES
        |  (0, TRUE, 1000, 400), (1, TRUE, 1000, 700),
        |  (2, FALSE, 1000, 800), (3, TRUE, 1000, 100))
        |SELECT n.node_id, n.alive AS is_alive,
        |  CAST(n.total AS BIGINT) AS total_bytes,
        |  CAST((n.total - n.free) * 1000 / n.total AS BIGINT) AS used_permille,
        |  c.n_replicas, c.n_leaders
        |FROM n JOIN c USING (node_id) ORDER BY n.node_id""".stripMargin,

    // The greedy's three moves, traced by hand from the squared-error
    // objectives (counts 5,1,0,0 -> 2,2,1,1; topic t one-per-node).
    "adm_leader_balance" ->
      """SELECT * FROM (VALUES
        |  (0, 't', 0, 0, 2),
        |  (1, 't', 1, 0, 3),
        |  (2, 't', 3, 0, 1))
        | t(ord, topic, partition, from_node, to_node)
        | ORDER BY ord""".stripMargin,

    "adm_reassignments" ->
      """WITH init AS (
        |  SELECT 'events' AS topic, CAST(p AS INTEGER) AS partition, '0,1,2' AS replicas
        |  FROM range(8) t(p)),
        | rlog(seq, topic, partition, op, targets) AS (VALUES
        |  (1, 'events', 0, 'alter', '1,2,3'),
        |  (2, 'events', 0, 'complete', NULL),
        |  (3, 'events', 1, 'alter', '3,4,5'),
        |  (4, 'events', 2, 'alter', '5,6,7'),
        |  (5, 'events', 2, 'cancel', NULL),
        |  (6, 'events', 0, 'alter', '2,3,4'),
        |  (7, 'events', 3, 'complete', NULL)),
        | term AS (
        |  SELECT topic, partition,
        |    max(seq) FILTER (WHERE op = 'complete') AS sc,
        |    max(seq) FILTER (WHERE op IN ('complete', 'cancel')) AS st
        |  FROM rlog GROUP BY 1, 2),
        | alt AS (
        |  SELECT l.topic, l.partition,
        |    arg_max(targets, seq) FILTER (WHERE seq < sc) AS applied,
        |    arg_max(targets, seq) FILTER (WHERE seq > COALESCE(st, -1)) AS pending
        |  FROM rlog l LEFT JOIN term USING (topic, partition)
        |  WHERE op = 'alter' GROUP BY 1, 2)
        | SELECT i.topic, i.partition,
        |   COALESCE(applied, i.replicas) AS replicas,
        |   CASE WHEN pending IS NOT NULL THEN array_to_string(list_sort(list_filter(
        |     string_split(pending, ','),
        |     x -> NOT list_contains(string_split(COALESCE(applied, i.replicas), ','), x))), ',')
        |     ELSE '' END AS adding,
        |   CASE WHEN pending IS NOT NULL THEN array_to_string(list_sort(list_filter(
        |     string_split(COALESCE(applied, i.replicas), ','),
        |     x -> NOT list_contains(string_split(pending, ','), x))), ',')
        |     ELSE '' END AS removing,
        |   pending IS NOT NULL AS in_flight
        | FROM init i LEFT JOIN alt USING (topic, partition)
        | ORDER BY partition""".stripMargin,

    "adm_list_transactions" ->
      s"""$TxnCte,
         | dat AS (
         |  SELECT pid, txn_seq, count(DISTINCT partition) AS n_partitions,
         |         count(*) AS n_records, min("offset") AS min_first_offset
         |  FROM ofs WHERE NOT is_control AND batch_type = 1 GROUP BY 1, 2),
         | ended AS (SELECT DISTINCT pid, txn_seq, decision FROM ofs WHERE is_control)
         | SELECT d.pid, d.txn_seq,
         |   CASE WHEN e.decision = 'commit' THEN 'CompleteCommit'
         |        WHEN e.decision = 'abort' THEN 'CompleteAbort'
         |        ELSE 'Ongoing' END AS state,
         |   d.n_partitions, d.n_records, d.min_first_offset
         | FROM dat d LEFT JOIN ended e ON d.pid = e.pid AND d.txn_seq = e.txn_seq
         | ORDER BY d.pid, d.txn_seq""".stripMargin,

    "adm_describe_producers" ->
      s"""$TxnCte,
         | endedtx AS (SELECT DISTINCT pid, txn_seq FROM ofs WHERE is_control),
         | openp AS (
         |  -- open txn start includes its fence batch (the reference's txn
         |  -- first offset is the fence rm_stm wrote on begin)
         |  SELECT o.partition, o.pid, min(o."offset") AS current_txn_first_offset
         |  FROM ofs o LEFT JOIN endedtx e ON o.pid = e.pid AND o.txn_seq = e.txn_seq
         |  WHERE NOT o.is_control AND e.pid IS NULL
         |  GROUP BY 1, 2),
         | dat AS (
         |  SELECT partition, pid, CAST(0 AS INTEGER) AS producer_epoch,
         |         max("offset") AS last_offset, count(*) AS n_records
         |  FROM ofs WHERE NOT is_control AND batch_type = 1 GROUP BY 1, 2)
         | SELECT d.partition, d.pid, d.producer_epoch, d.last_offset, d.n_records,
         |        o.current_txn_first_offset
         | FROM dat d LEFT JOIN openp o ON d.partition = o.partition AND d.pid = o.pid
         | ORDER BY d.partition, d.pid""".stripMargin,

    "adm_describe_transactions" ->
      s"""$TxnCte,
         | data AS (SELECT * FROM ofs WHERE NOT is_control AND batch_type = 1),
         | latest AS (SELECT pid, max(txn_seq) AS txn_seq FROM data GROUP BY 1),
         | touched AS (
         |  SELECT d.pid, d.txn_seq, d.partition, CAST(0 AS INTEGER) AS producer_epoch,
         |         min(d."offset") AS start_offset, max(d."offset") AS last_offset,
         |         count(*) AS n_records
         |  FROM data d JOIN latest l ON d.pid = l.pid AND d.txn_seq = l.txn_seq
         |  GROUP BY 1, 2, 3),
         | endedtx AS (SELECT DISTINCT pid, txn_seq, decision FROM ofs WHERE is_control)
         | SELECT t.pid, t.txn_seq, t.partition,
         |        CASE WHEN e.decision = 'commit' THEN 'CompleteCommit'
         |             WHEN e.decision = 'abort' THEN 'CompleteAbort'
         |             ELSE 'Ongoing' END AS state,
         |        t.producer_epoch, t.start_offset, t.last_offset, t.n_records
         | FROM touched t LEFT JOIN endedtx e ON t.pid = e.pid AND t.txn_seq = e.txn_seq
         | ORDER BY t.pid, t.partition""".stripMargin,

    // Full-replace AlterConfigs v2: the set lands, absent keys revert,
    // unknown properties reject the resource.
    "adm_wire_alter_configs" ->
      """SELECT CAST(step AS INTEGER) AS step, api, CAST(item AS INTEGER) AS item,
        |  resource, "key", "value", source,
        |  CAST(error_code AS INTEGER) AS error_code, error_message,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'alter', 0, 'events', NULL, NULL, NULL, 0, NULL),
        |  (1, 'alter', 1, 'metrics', NULL, NULL, NULL, 40,
        |   'invalid topic property: zz.unknown'),
        |  (2, 'describe', -1, 'events', 'cleanup.policy', 'delete', 'DEFAULT_CONFIG', 0, NULL),
        |  (2, 'describe', -1, 'events', 'compression.type', 'producer', 'DEFAULT_CONFIG', 0, NULL),
        |  (2, 'describe', -1, 'events', 'delete.retention.ms', '86400000', 'DEFAULT_CONFIG', 0, NULL),
        |  (2, 'describe', -1, 'events', 'message.timestamp.type', 'CreateTime', 'DEFAULT_CONFIG', 0, NULL),
        |  (2, 'describe', -1, 'events', 'retention.bytes', '1073741824', 'DYNAMIC_TOPIC_CONFIG', 0, NULL),
        |  (2, 'describe', -1, 'events', 'retention.ms', '604800000', 'DEFAULT_CONFIG', 0, NULL))
        | t(step, api, item, resource, "key", "value", source, error_code,
        |   error_message)
        | ORDER BY step, item, "key"""".stripMargin,

    // KIP-546 over the wire: alter ladder (35 for unsupported entity
    // types), configured reads under exact/default/any match, and the
    // exact-over-default effective resolution.
    "adm_wire_client_quotas" ->
      """SELECT CAST(step AS INTEGER) AS step, api, CAST(item AS INTEGER) AS item,
        |  entity_type, entity_name, "key", CAST("value" AS DOUBLE) AS "value",
        |  source, CAST(error_code AS INTEGER) AS error_code, error_message,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'alter', 0, 'client-id', NULL, NULL, -1.0, NULL, 0, NULL),
        |  (1, 'alter', 1, 'client-id', 'etl-1', NULL, -1.0, NULL, 0, NULL),
        |  (1, 'alter', 2, 'client-id', 'etl-2', NULL, -1.0, NULL, 0, NULL),
        |  (1, 'alter', 3, 'user', 'alice', NULL, -1.0, NULL, 35,
        |   'Entity type ''user'' not yet supported'),
        |  (1, 'alter', 4, 'client-id', 'etl-2', NULL, -1.0, NULL, 0, NULL),
        |  (2, 'describe', -1, 'client-id', 'etl-1', 'producer_byte_rate', 524288.0, NULL, 0, NULL),
        |  (3, 'describe', -1, 'client-id', NULL, 'consumer_byte_rate', 2097152.0, NULL, 0, NULL),
        |  (3, 'describe', -1, 'client-id', NULL, 'producer_byte_rate', 1048576.0, NULL, 0, NULL),
        |  (4, 'describe', -1, 'client-id', NULL, 'consumer_byte_rate', 2097152.0, NULL, 0, NULL),
        |  (4, 'describe', -1, 'client-id', NULL, 'producer_byte_rate', 1048576.0, NULL, 0, NULL),
        |  (4, 'describe', -1, 'client-id', 'etl-1', 'producer_byte_rate', 524288.0, NULL, 0, NULL),
        |  (5, 'resolved', -1, 'client-id', 'etl-1', 'consumer_byte_rate', 2097152.0, 'DEFAULT', 0, NULL),
        |  (5, 'resolved', -1, 'client-id', 'etl-1', 'producer_byte_rate', 524288.0, 'CLIENT', 0, NULL),
        |  (5, 'resolved', -1, 'client-id', 'etl-2', 'consumer_byte_rate', 2097152.0, 'DEFAULT', 0, NULL),
        |  (5, 'resolved', -1, 'client-id', 'etl-2', 'producer_byte_rate', 1048576.0, 'DEFAULT', 0, NULL))
        | t(step, api, item, entity_type, entity_name, "key", "value", source,
        |   error_code, error_message)
        | ORDER BY step, item, entity_name, "key"""".stripMargin,

    // KIP-455 over the wire: alters (null = cancel, 85 when nothing in
    // flight), controller completion, in-flight listing with deltas.
    "adm_wire_reassignments" ->
      """SELECT CAST(step AS INTEGER) AS step, api,
        |  CAST(partition AS INTEGER) AS partition, replicas, adding,
        |  removing, CAST(error_code AS INTEGER) AS error_code,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'alter', 0, '', '', '', 0),
        |  (2, 'alter', 0, '', '', '', 0),
        |  (2, 'alter', 1, '', '', '', 0),
        |  (2, 'alter', 2, '', '', '', 0),
        |  (3, 'alter', 2, '', '', '', 0),
        |  (3, 'alter', 5, '', '', '', 85),
        |  (4, 'list', 0, '1,2,3', '4', '1', 0),
        |  (4, 'list', 1, '0,1,2', '3,4,5', '0,1,2', 0),
        |  (5, 'list', 1, '0,1,2', '3,4,5', '0,1,2', 0))
        | t(step, api, partition, replicas, adding, removing, error_code)
        | ORDER BY step, partition""".stripMargin,

    // DescribeLogDirs v4 over the wire; sizes recomputed from events.
    "adm_wire_log_dirs" ->
      s"""$LogCte SELECT '/var/lib/graft/data' AS log_dir, 'events' AS topic,
         |  partition, CAST(sum(length(props)) AS BIGINT) AS size_bytes,
         |  CAST(0 AS BIGINT) AS offset_lag,
         |  (SELECT CAST(sum(length(props)) AS BIGINT) FROM log) AS total_bytes,
         |  CAST(-1 AS BIGINT) AS usable_bytes, TRUE AS corr_ok
         | FROM log GROUP BY partition ORDER BY partition""".stripMargin,

    "adm_describe_log_dirs" ->
      s"""$LogCte SELECT partition, CAST(sum(length(props)) AS BIGINT) AS size_bytes,
         |  count(*) AS n_records, max("offset") + 1 AS log_end_offset
         | FROM log GROUP BY partition ORDER BY partition""".stripMargin,

    "adm_topic_validation" ->
      """SELECT * FROM (VALUES
        |  ('ok', 0), ('ok_defaults', 0), ('bad_parts', 37),
        |  ('bad_rf_even', 38), ('bad_rf_neg', 38), ('bad_max_bytes', 40),
        |  ('bad_compression', 40), ('bad_cleanup', 40), ('bad_ts_type', 40),
        |  ('first_rule_wins', 37))
        | t(topic, error_code) ORDER BY topic""".stripMargin,

    "adm_api_versions" ->
      """SELECT * FROM (VALUES
        |   (0, 'produce', 'log.RecordLog/streaming.Produce'),
        |   (1, 'fetch', 'log.RecordLog.fetch'),
        |   (2, 'list_offsets', 'log.RecordLog.{earliest,latest,offsetsForTimestamp}'),
        |   (3, 'metadata', 'admin.Admin.metadata'),
        |   (8, 'offset_commit', 'groups.ConsumerGroups'),
        |   (9, 'offset_fetch', 'groups.ConsumerGroups.fetchOffsets'),
        |   (10, 'find_coordinator', 'admin.Admin.coordinatorFor'),
        |   (11, 'join_group', 'groups.GroupFsm'),
        |   (12, 'heartbeat', 'groups.GroupFsm'),
        |   (13, 'leave_group', 'groups.GroupFsm'),
        |   (14, 'sync_group', 'groups.GroupFsm/groups.Assignment'),
        |   (15, 'describe_groups', 'groups.GroupEngine.describeGroups'),
        |   (16, 'list_groups', 'groups.GroupEngine.listGroups'),
        |   (17, 'sasl_handshake', 'security.Scram.handshake'),
        |   (18, 'api_versions', 'admin.Admin.ApiVersions'),
        |   (19, 'create_topics', 'admin.Admin topic lifecycle'),
        |   (20, 'delete_topics', 'admin.Admin topic lifecycle'),
        |   (21, 'delete_records', 'log.RecordLog.deleteRecords'),
        |   (22, 'init_producer_id', 'log.TxnEngine.initProducerIds'),
        |   (23, 'offset_for_leader_epoch', 'log.RecordLog.offsetsForLeaderEpoch'),
        |   (24, 'add_partitions_to_txn', 'log.TxnEngine'),
        |   (25, 'add_offsets_to_txn', 'log.TxnEngine'),
        |   (26, 'end_txn', 'log.TxnEngine'),
        |   (28, 'txn_offset_commit', 'log.TxnEngine.commitTxOffsets'),
        |   (29, 'describe_acls', 'security.Acls.describeAcls'),
        |   (30, 'create_acls', 'security.Acls'),
        |   (31, 'delete_acls', 'security.Acls'),
        |   (32, 'describe_configs', 'admin.Admin.describeConfigs'),
        |   (33, 'alter_configs', 'admin.Admin.currentConfigs'),
        |   (35, 'describe_log_dirs', 'admin.Admin.describeLogDirs'),
        |   (36, 'sasl_authenticate', 'security.Scram.authenticate'),
        |   (37, 'create_partitions', 'admin.Admin.createPartitions'),
        |   (42, 'delete_groups', 'groups.ConsumerGroups'),
        |   (44, 'incremental_alter_configs', 'admin.Admin.currentConfigsIncremental'),
        |   (45, 'alter_partition_reassignments', 'admin.Admin.partitionReassignments'),
        |   (46, 'list_partition_reassignments', 'admin.Admin.partitionReassignments'),
        |   (47, 'offset_delete', 'groups.ConsumerGroups.deleteOffsets'),
        |   (48, 'describe_client_quotas', 'admin.Admin.resolveClientQuotas'),
        |   (49, 'alter_client_quotas', 'admin.Admin.resolveClientQuotas'),
        |   (50, 'describe_user_scram_credentials', 'security.Scram.describeCredentials'),
        |   (51, 'alter_user_scram_credentials', 'security.Scram.currentCredentials'),
        |   (61, 'describe_producers', 'log.TxnEngine.describeProducers'),
        |   (65, 'describe_transactions', 'log.TxnEngine.describeTransactions'),
        |   (66, 'list_transactions', 'log.TxnEngine.listTransactions'))
        | t(api_key, api_name, implemented_by) ORDER BY api_key""".stripMargin,

    "adm_find_coordinator" ->
      """SELECT * FROM (VALUES
        |  ('', 9), ('0123456789', 8), ('a', 12), ('ab', 10), ('abc', 11),
        |  ('hello-kafka', 7), ('redpanda', 6), ('user-42', 12))
        | t("group", coordinator_partition) ORDER BY "group"""".stripMargin,

    // CreateTopics v7 wire: validator-chain outcomes over the wire,
    // config error riding the response's tagged field.
    "adm_wire_create_topics" ->
      """SELECT * FROM (VALUES
        |  ('wire_bad_config', 40, -1, -1, 40, -1, TRUE),
        |  ('wire_bad_parts', 37, -1, -1, 0, -1, TRUE),
        |  ('wire_bad_rf', 38, -1, -1, 0, -1, TRUE),
        |  ('wire_ok', 0, 8, 3, 0, 2, TRUE))
        | t(topic, error_code, num_partitions, replication_factor,
        |   config_error, n_configs, corr_ok) ORDER BY topic""".stripMargin,

    // FindCoordinator v3 size laws: request = 20 frame+header + (1+len
    //   compact key + 1 key_type + 1 tags) = 23 + len(group); response =
    //   9 + 4 throttle + 2 err + 1 null msg + 4 node + (1 + 5+digits
    //   "node-N" host) + 4 port + 1 tags = 31 + digits(node).
    "adm_wire_find_coordinator" ->
      """SELECT "group", 0 AS key_type, node_id,
        |       'node-' || CAST(node_id AS VARCHAR) AS host,
        |       CAST(9092 + node_id AS INTEGER) AS port, 0 AS error_code,
        |       CAST(23 + length("group") AS INTEGER) AS req_bytes,
        |       CAST(31 + length(CAST(node_id AS VARCHAR)) AS INTEGER) AS resp_bytes,
        |       TRUE AS corr_ok
        | FROM (VALUES
        |  ('', 9), ('0123456789', 8), ('a', 12), ('ab', 10), ('abc', 11),
        |  ('hello-kafka', 7), ('redpanda', 6), ('user-42', 12))
        | t("group", node_id) ORDER BY "group"""".stripMargin,

    // KIP-664 introspection over the wire: list (filters + unknown
    // echo), describe (105 for unknown tids, touched partitions),
    // producers (active states incl. open-txn first offset).
    "t3_wire_introspection" ->
      """SELECT CAST(step AS INTEGER) AS step, api, tid, state,
        |  CAST(pid AS BIGINT) AS pid, CAST(epoch AS INTEGER) AS epoch,
        |  CAST(partition AS INTEGER) AS partition,
        |  CAST(txn_start_offset AS BIGINT) AS txn_start_offset,
        |  CAST(last_offset AS BIGINT) AS last_offset,
        |  CAST(error_code AS INTEGER) AS error_code, TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'list', 'tx-10', 'Ongoing', 10, -1, -1, -1, -1, 0),
        |  (1, 'list', 'tx-11', 'CompleteCommit', 11, -1, -1, -1, -1, 0),
        |  (1, 'list', 'tx-12', 'CompleteAbort', 12, -1, -1, -1, -1, 0),
        |  (2, 'list', 'tx-11', 'CompleteCommit', 11, -1, -1, -1, -1, 0),
        |  (2, 'list_unknown', NULL, 'Retrying', -1, -1, -1, -1, -1, 0),
        |  (3, 'list', 'tx-12', 'CompleteAbort', 12, -1, -1, -1, -1, 0),
        |  (4, 'describe', 'tx-10', 'Ongoing', 10, 0, 0, -1, -1, 0),
        |  (4, 'describe', 'tx-10', 'Ongoing', 10, 0, 1, -1, -1, 0),
        |  (4, 'describe', 'tx-99', NULL, -1, -1, -1, -1, -1, 105),
        |  (5, 'producers', NULL, NULL, 10, 0, 0, 0, 1, 0),
        |  (5, 'producers', NULL, NULL, 11, 1, 0, -1, 2, 0),
        |  (5, 'producers', NULL, NULL, 10, 0, 1, 0, 0, 0),
        |  (5, 'producers', NULL, NULL, 12, 0, 1, -1, 2, 0),
        |  (5, 'producers', NULL, NULL, -1, -1, 5, -1, -1, 0))
        | t(step, api, tid, state, pid, epoch, partition, txn_start_offset,
        |   last_offset, error_code)
        | ORDER BY step, tid, pid, partition, state""".stripMargin,

    // Topic lifecycle over the wire: the create_partitions validate
    // chain (handler message text verbatim, typo included), delete by
    // name and by topic id, surviving catalog. item = request ordinal
    // for steps 1-2, partition count for the step-3 catalog rows.
    "adm_wire_topic_lifecycle" ->
      """SELECT CAST(step AS INTEGER) AS step, api, topic,
        |  CAST(item AS INTEGER) AS item,
        |  CAST(error_code AS INTEGER) AS error_code, error_message,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'create_partitions', 't1', 0, 42, 'request contains duplicated topics'),
        |  (1, 'create_partitions', 't1', 1, 42, 'request contains duplicated topics'),
        |  (1, 'create_partitions', 'ghost', 2, 17, 'Topic does not exist'),
        |  (1, 'create_partitions', 't2', 3, 42,
        |   'Partition count must be greater then current number of partitions'),
        |  (1, 'create_partitions', 't3', 4, 42,
        |   'Partition count must be greater then current number of partitions'),
        |  (1, 'create_partitions', 't4', 5, 42,
        |   'Redpanda does not yet support custom partitions assignment'),
        |  (1, 'create_partitions', 't5', 6, 0, NULL),
        |  (2, 'delete_topics', 't3', 0, 0, NULL),
        |  (2, 'delete_topics', 'ghost', 1, 3, 'unknown topic or partition'),
        |  (2, 'delete_topics', 't4', 2, 0, NULL),
        |  (2, 'delete_topics', NULL, 3, 100, 'unknown topic id'),
        |  (3, 'catalog', 't1', 8, 0, NULL),
        |  (3, 'catalog', 't2', 4, 0, NULL),
        |  (3, 'catalog', 't5', 6, 0, NULL))
        | t(step, api, topic, item, error_code, error_message)
        | ORDER BY step, item, topic""".stripMargin,

    "adm_create_partitions" ->
      """WITH lg AS (
        |  SELECT CAST(user_id % 8 AS INTEGER) AS partition,
        |         CAST(row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS BIGINT) AS "offset",
        |         FALSE AS is_new
        |  FROM events),
        | hwm AS (SELECT partition, max("offset") + 1 AS base FROM lg GROUP BY 1),
        | nb AS (
        |  SELECT CAST(user_id % 12 AS INTEGER) AS partition,
        |         CAST(row_number() OVER (PARTITION BY user_id % 12 ORDER BY event_id) - 1 AS BIGINT) AS rn
        |  FROM events),
        | nb2 AS (SELECT n.partition, COALESCE(h.base, 0) + n.rn AS "offset", TRUE AS is_new
        |         FROM nb n LEFT JOIN hwm h ON n.partition = h.partition),
        | allr AS (SELECT * FROM lg UNION ALL SELECT * FROM nb2)
        | SELECT partition, count(*) AS n, max("offset") + 1 AS hwm,
        |   CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        | FROM allr GROUP BY partition ORDER BY partition""".stripMargin,

    "q5_offset_translation" ->
      s"""$TxnCte
         | SELECT partition, "offset" AS log_offset,
         |   CAST(row_number() OVER (PARTITION BY partition ORDER BY "offset") - 1 AS BIGINT) AS kafka_offset
         | FROM ofs WHERE NOT is_control AND batch_type = 1
         | ORDER BY partition, log_offset""".stripMargin,

    "adm_acls" ->
      """WITH acllog(seq, principal, host, resource_type, pattern_type, resource_name, operation, permission, deleted) AS (
        |  VALUES
        |   (1, 'alice', '*', 'topic', 'literal', 'events', 'read', 'allow', FALSE),
        |   (2, 'alice', '*', 'topic', 'literal', 'events', 'write', 'allow', FALSE),
        |   (3, '*', '*', 'topic', 'prefixed', 'logs-', 'read', 'allow', FALSE),
        |   (4, 'bob', '*', 'topic', 'literal', 'events', 'all', 'allow', FALSE),
        |   (5, 'bob', '*', 'topic', 'literal', 'events', 'write', 'deny', FALSE),
        |   (6, 'carol', '*', 'group', 'literal', 'g1', 'read', 'allow', FALSE),
        |   (7, 'alice', '*', 'topic', 'literal', 'events', 'write', 'allow', TRUE),
        |   (8, 'dave', '10.0.0.1', 'topic', 'literal', 'events', 'read', 'allow', FALSE)),
        | live AS (
        |  SELECT * FROM acllog
        |  QUALIFY row_number() OVER (PARTITION BY principal, host, resource_type,
        |    pattern_type, resource_name, operation, permission ORDER BY seq DESC) = 1
        |  ),
        | livekept AS (SELECT * FROM live WHERE NOT deleted),
        | req(principal, host, operation, resource_type, resource_name) AS (
        |  VALUES
        |   ('alice', '10.0.0.9', 'read', 'topic', 'events'),
        |   ('alice', '10.0.0.9', 'write', 'topic', 'events'),
        |   ('anyone', 'h', 'read', 'topic', 'logs-2024'),
        |   ('anyone', 'h', 'read', 'topic', 'events'),
        |   ('bob', 'h', 'read', 'topic', 'events'),
        |   ('bob', 'h', 'write', 'topic', 'events'),
        |   ('carol', 'h', 'read', 'group', 'g1'),
        |   ('carol', 'h', 'read', 'topic', 'g1'),
        |   ('dave', '10.0.0.1', 'read', 'topic', 'events'),
        |   ('dave', '10.0.0.2', 'read', 'topic', 'events')),
        | m AS (
        |  SELECT r.*, a.permission AS perm
        |  FROM req r LEFT JOIN livekept a ON a.resource_type = r.resource_type
        |    AND (a.principal = r.principal OR a.principal = '*')
        |    AND (a.host = r.host OR a.host = '*')
        |    AND (a.operation = r.operation OR a.operation = 'all')
        |    AND ((a.pattern_type = 'literal' AND a.resource_name = r.resource_name)
        |      OR (a.pattern_type = 'prefixed' AND starts_with(r.resource_name, a.resource_name))))
        | SELECT principal, host, operation, resource_type, resource_name,
        |  CASE WHEN max(CASE WHEN perm = 'deny' THEN 1 ELSE 0 END) = 1 THEN 'denied'
        |       WHEN max(CASE WHEN perm = 'allow' THEN 1 ELSE 0 END) = 1 THEN 'allowed'
        |       ELSE 'denied' END AS decision
        | FROM m GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4, 5""".stripMargin,

    "sec_scram_describe" ->
      """WITH credlog(seq, username, mechanism, iterations, deleted) AS (
        |  VALUES
        |   (1, 'alice', 'SCRAM-SHA-256', 1024, FALSE),
        |   (2, 'bob', 'SCRAM-SHA-256', 1024, FALSE),
        |   (3, 'alice', 'SCRAM-SHA-256', 2048, FALSE),
        |   (4, 'carol', 'SCRAM-SHA-512', 4096, FALSE),
        |   (5, 'bob', 'SCRAM-SHA-256', 0, TRUE),
        |   (6, 'dave', 'SCRAM-SHA-256', 1024, FALSE),
        |   (7, 'dave', 'SCRAM-SHA-512', 1024, FALSE)),
        | live AS (
        |  SELECT * FROM credlog
        |  QUALIFY row_number() OVER (PARTITION BY username, mechanism ORDER BY seq DESC) = 1)
        | SELECT username, mechanism, CAST(iterations AS INT) AS iterations
        | FROM live WHERE NOT deleted ORDER BY username, mechanism""".stripMargin,

    "sec_scram_auth" ->
      """SELECT 'user_' || c_custkey AS username,
        |  'SCRAM-SHA-256' AS mechanism,
        |  CASE WHEN c_custkey > 50 THEN 'unknown_user'
        |       WHEN c_custkey % 3 = 0 THEN 'failed'
        |       ELSE 'authenticated' END AS decision
        | FROM customer WHERE c_custkey <= 60 ORDER BY username""".stripMargin,

    "sec_handshake" ->
      """SELECT 'client_' || c_custkey AS client, mech AS mechanism,
        |  CASE WHEN mech IN ('SCRAM-SHA-256', 'SCRAM-SHA-512', 'PLAIN', 'GSSAPI', 'OAUTHBEARER')
        |       THEN 0 ELSE 33 END AS error_code,
        |  'SCRAM-SHA-256,SCRAM-SHA-512,PLAIN,GSSAPI,OAUTHBEARER' AS enabled_mechanisms
        | FROM (SELECT c_custkey,
        |         (['SCRAM-SHA-256', 'SCRAM-SHA-512', 'PLAIN', 'GSSAPI', 'OAUTHBEARER', 'EXTERNAL'])[(c_custkey % 6) + 1] AS mech
        |       FROM customer WHERE c_custkey <= 60)
        | ORDER BY client""".stripMargin,

    // The ACL control plane over the wire: creation error ladder with
    // the reference's conversion messages, MATCH-filter describe,
    // per-filter delete with tombstoned matches, post-delete re-read.
    "sec_wire_acls" ->
      """SELECT CAST(step AS INTEGER) AS step, api, CAST(item AS INTEGER) AS item,
        |  CAST(error_code AS INTEGER) AS error_code, error_message,
        |  principal, host, resource_type, pattern_type, resource_name,
        |  operation, permission, TRUE AS corr_ok
        | FROM (VALUES
        |  (1, 'create', 0, 0, NULL, 'User:alice', '*', 'topic', 'literal', 'payments', 'read', 'allow'),
        |  (1, 'create', 1, 0, NULL, 'User:bob', '*', 'topic', 'prefixed', 'pay', 'write', 'allow'),
        |  (1, 'create', 2, 0, NULL, 'User:bob', '*', 'group', 'literal', 'analytics', 'read', 'deny'),
        |  (1, 'create', 3, 0, NULL, 'User:*', '*', 'topic', 'literal', '*', 'describe', 'allow'),
        |  (1, 'create', 4, 42, 'Invalid principal name: {alice}', 'alice', '*', 'topic', 'literal', 'payments-eu', 'write', 'allow'),
        |  (1, 'create', 5, 42, 'Invalid resource type: 99', 'User:carol', '*', NULL, 'literal', 'orders', 'read', 'allow'),
        |  (2, 'describe', -1, 0, NULL, 'User:*', '*', 'topic', 'literal', '*', 'describe', 'allow'),
        |  (2, 'describe', -1, 0, NULL, 'User:alice', '*', 'topic', 'literal', 'payments', 'read', 'allow'),
        |  (2, 'describe', -1, 0, NULL, 'User:bob', '*', 'topic', 'prefixed', 'pay', 'write', 'allow'),
        |  (3, 'delete', 0, 0, NULL, 'User:bob', '*', 'group', 'literal', 'analytics', 'read', 'deny'),
        |  (3, 'delete', 0, 0, NULL, 'User:bob', '*', 'topic', 'prefixed', 'pay', 'write', 'allow'),
        |  (3, 'delete', 1, 42, 'Invalid principal name: {bob}', NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (4, 'describe', -1, 0, NULL, 'User:*', '*', 'topic', 'literal', '*', 'describe', 'allow'),
        |  (4, 'describe', -1, 0, NULL, 'User:alice', '*', 'topic', 'literal', 'payments', 'read', 'allow'))
        | t(step, api, item, error_code, error_message, principal, host,
        |   resource_type, pattern_type, resource_name, operation, permission)
        | ORDER BY step, item, resource_type, resource_name, principal""".stripMargin,

    // SCRAM over the wire. Size laws: handshake v1 request = 4 frame +
    //   15 non-flexible header ("graft" client) + 2+len(mech) = 21+len;
    //   response = 4 + 4 corr + 2 err + 4 arraylen + 2*(2+13) = 44.
    // SaslAuthenticate v2 request = 4 + 16 flexible header + 1 compact
    //   len + authbytes + 1 tags = 22 + len(auth); auth response =
    //   4 + 5 header + 2 err + msg(1 if null else 1+len) + 1+payload +
    //   8 lifetime + 1 tags = 22 + payload (success) / 22 + len(msg)
    //   (failure, empty payload). client-first = gs2(3, or 5+authzid) +
    //   "n=,r=" (5) + user + 8-char nonce; server-first = "r=" + 16 +
    //   ",s=" + 16 (12-byte salt) + ",i=" + 4 = 44; client-final =
    //   "c=biws,r=" + 16 + ",p=" + proof-b64 (44 SHA-256 / 88 SHA-512);
    //   server-final = "v=" + sig-b64.
    "sec_wire_sasl" ->
      """SELECT scenario, "user", mechanism,
        |  CAST(hs_error AS INTEGER) AS hs_error, fail_leg,
        |  CAST(error_code AS INTEGER) AS error_code, error_message,
        |  CAST(iterations AS INTEGER) AS iterations, nonce_ok, server_sig_ok,
        |  CAST(21 + length(mechanism) AS INTEGER) AS hs_req_bytes,
        |  CAST(44 AS INTEGER) AS hs_resp_bytes,
        |  CAST(CASE WHEN fail_leg = 'handshake' THEN -1
        |            ELSE 38 + length("user")
        |                 + CASE WHEN authzid IS NULL THEN 0
        |                        ELSE 2 + length(authzid) END
        |       END AS INTEGER) AS a1_req_bytes,
        |  CAST(CASE WHEN fail_leg = 'handshake' THEN -1
        |            WHEN fail_leg = 'server_first' THEN 22 + length(error_message)
        |            ELSE 66 END AS INTEGER) AS a1_resp_bytes,
        |  CAST(CASE WHEN fail_leg IN ('handshake', 'server_first') THEN -1
        |            WHEN mechanism = 'SCRAM-SHA-512' THEN 138
        |            ELSE 94 END AS INTEGER) AS a2_req_bytes,
        |  CAST(CASE WHEN fail_leg IN ('handshake', 'server_first') THEN -1
        |            WHEN fail_leg = 'server_final' THEN 22 + length(error_message)
        |            WHEN mechanism = 'SCRAM-SHA-512' THEN 112
        |            ELSE 68 END AS INTEGER) AS a2_resp_bytes,
        |  TRUE AS corr_ok
        | FROM (VALUES
        |  ('s1_ok_256', 'alice', 'SCRAM-SHA-256', 0, 'none', 0, NULL, 4096, TRUE, TRUE, NULL),
        |  ('s2_wrong_pw', 'alice', 'SCRAM-SHA-256', 0, 'server_final', 58,
        |   'SASL authentication failed: security: Invalid credentials', 4096, TRUE, FALSE, NULL),
        |  ('s3_ok_512', 'bob', 'SCRAM-SHA-512', 0, 'none', 0, NULL, 4096, TRUE, TRUE, NULL),
        |  ('s4_unknown_user', 'eve', 'SCRAM-SHA-256', 0, 'server_first', 58,
        |   'SASL authentication failed: security: Invalid credentials', -1, FALSE, FALSE, NULL),
        |  ('s5_authzid_mismatch', 'carol', 'SCRAM-SHA-256', 0, 'server_first', 58,
        |   'SASL authentication failed: security: Invalid credentials', -1, FALSE, FALSE, 'other'),
        |  ('s6_low_iterations', 'frank', 'SCRAM-SHA-256', 0, 'server_first', 58,
        |   'SASL authentication failed: security: Invalid credentials', -1, FALSE, FALSE, NULL),
        |  ('s7_bad_mechanism', 'dave', 'SCRAM-SHA-224', 33, 'handshake', 33, NULL, -1, FALSE, FALSE, NULL))
        | t(scenario, "user", mechanism, hs_error, fail_leg, error_code,
        |   error_message, iterations, nonce_ok, server_sig_ok, authzid)
        | ORDER BY scenario""".stripMargin,

    // The reference's own gssapi_principal_mapper test corpus; every
    // expected local name pinned (the engine must reproduce them).
    "sec_gssapi_principal" ->
      """SELECT * FROM (VALUES
        |  (1, 'A', 'App.service-name/example.com@REALM.com', 'service-name'),
        |  (2, 'A', 'App.service-name@REALM.com', 'service-name'),
        |  (3, 'A', 'user/host@REALM.com', 'user'),
        |  (4, 'A', 'redpanda/example.com@REALM.com', 'redpandadataexample.com'),
        |  (5, 'B', 'User@REALM.com', 'user'),
        |  (6, 'B', 'TestABC/host@FOO.COM', 'test'),
        |  (7, 'B', 'ABC_User_ABC/host@FOO.COM', 'xyz_user_xyz'),
        |  (8, 'B', 'App.SERVICE-name/example.com@REALM.COM', 'service-name'),
        |  (9, 'B', 'User/root@REALM.COM', 'user'),
        |  (10, 'C', 'User@REALM.com', 'USER'),
        |  (11, 'C', 'TestABC/host@FOO.COM', 'TEST'),
        |  (12, 'C', 'ABC_User_ABC/host@FOO.COM', 'XYZ_USER_XYZ'),
        |  (13, 'C', 'App.SERVICE-name/example.com@REALM.COM', 'SERVICE-NAME'),
        |  (14, 'C', 'User/root@REALM.COM', 'USER')
        |) AS t(k, rule_set, gssapi_name, mapped) ORDER BY k""".stripMargin,

    // PLAIN replays the parse-ladder precedence in plaintext: malformed
    // blobs (%13 authzid, %11 no separator, %7 empty password) beat the
    // store lookup; unprovisioned users (k>50) beat the password check.
    "sec_plain_auth" ->
      """SELECT 'user_' || c_custkey AS username,
        |  CASE WHEN c_custkey % 13 = 0 THEN 'malformed'
        |       WHEN c_custkey % 11 = 0 THEN 'malformed'
        |       WHEN c_custkey % 7 = 0 THEN 'malformed'
        |       WHEN c_custkey > 50 THEN 'unknown_user'
        |       WHEN c_custkey % 3 = 0 THEN 'failed'
        |       ELSE 'authenticated' END AS decision
        | FROM customer WHERE c_custkey <= 70 ORDER BY username""".stripMargin,

    // OIDC: the token builder's first-match rule decides which single
    // defect each token carries, so the oracle's CASE chain in the same
    // precedence re-derives error/principal/exp without any crypto.
    "sec_oidc_auth" ->
      """WITH d AS (SELECT CAST(c_custkey AS BIGINT) AS k
        |           FROM customer WHERE c_custkey <= 60)
        |SELECT k,
        |  CASE WHEN k % 17 = 0 THEN 'malformed'
        |       WHEN k % 13 = 0 THEN 'unknown_kid'
        |       WHEN k % 11 = 0 THEN 'invalid_signature'
        |       WHEN k % 7 = 0 THEN 'invalid_iss'
        |       WHEN k % 5 = 0 THEN 'invalid_aud'
        |       WHEN k % 3 = 0 THEN 'expired'
        |       WHEN k % 2 = 0 THEN 'not_yet_valid'
        |       ELSE NULL END AS error,
        |  CASE WHEN k % 17 = 0 OR k % 13 = 0 OR k % 11 = 0 OR k % 7 = 0
        |         OR k % 5 = 0 OR k % 3 = 0 OR k % 2 = 0 THEN NULL
        |       ELSE 'oidc_' || k END AS principal,
        |  CASE WHEN k % 17 = 0 THEN NULL ELSE 'sub-' || k END AS sub,
        |  CASE WHEN k % 17 = 0 THEN -1
        |       WHEN k % 13 = 0 OR k % 11 = 0 OR k % 7 = 0 OR k % 5 = 0
        |         THEN 1700003600
        |       WHEN k % 3 = 0 THEN 1699996400
        |       ELSE 1700003600 END AS token_exp
        | FROM d ORDER BY k""".stripMargin,

    "sec_role_acls" ->
      """SELECT * FROM (VALUES
        |  ('dora', 'h', 'read', 'topic', 'events', 'allowed'),
        |  ('dora', 'h', 'write', 'topic', 'logs-7', 'allowed'),
        |  ('eve', 'h', 'read', 'topic', 'events', 'allowed'),
        |  ('eve', 'h', 'write', 'topic', 'events', 'denied'),
        |  ('frank', 'h', 'read', 'topic', 'events', 'allowed'),
        |  ('frank', 'h', 'write', 'topic', 'events', 'denied'),
        |  ('gus', 'h', 'read', 'topic', 'events', 'denied'))
        | t(principal, host, operation, resource_type, resource_name, decision)
        | ORDER BY principal, operation, resource_name""".stripMargin,

    // First-match-wins ordered rules replayed as a CASE chain (RE2-safe
    // patterns; DuckDB backrefs are \1 where Spark's are $1).
    "sec_principal_mapping" ->
      """WITH d AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'CN=svc.' || c_custkey || ',O=acme'
        |         WHEN c_custkey % 5 = 0 THEN 'O=acme,L=metropolis-' || c_custkey
        |         ELSE 'CN=User_' || c_custkey || ',OU=eng,O=acme' END AS dn
        |  FROM customer WHERE c_custkey <= 100)
        | SELECT k, dn,
        |  CASE WHEN regexp_matches(dn, '^CN=svc\.([0-9]+),.*$')
        |         THEN upper(regexp_replace(dn, '^CN=svc\.([0-9]+),.*$', 'svc-\1'))
        |       WHEN regexp_matches(dn, '^CN=([^,]*),.*$')
        |         THEN lower(regexp_replace(dn, '^CN=([^,]*),.*$', '\1'))
        |       ELSE dn END AS principal
        | FROM d ORDER BY k""".stripMargin,

    // The streaming twin emits the same flush log (watermark-closed
    // intervals) — identical fold, identical oracle.
    "sec_audit_stream" ->
      """WITH api AS (
        |  SELECT event_id AS seq,
        |         'u' || CAST(user_id % 10 AS VARCHAR) AS principal,
        |         CASE event_type WHEN 'purchase' THEN 'produce'
        |              WHEN 'view' THEN 'fetch' ELSE 'mgmt' END AS etype,
        |         't' || CAST(user_id % 4 AS VARCHAR) AS topic,
        |         CASE event_type WHEN 'purchase' THEN 'write'
        |              WHEN 'view' THEN 'read' ELSE 'describe' END AS operation
        |  FROM events)
        | SELECT seq // 1000 AS interval, principal, etype AS event_type, topic, operation,
        |        count(*) AS count, min(seq) AS first_seq, max(seq) AS last_seq
        | FROM api
        | WHERE etype IN ('produce', 'fetch')
        |   AND topic <> 't3' AND principal <> 'u7'
        | GROUP BY 1, 2, 3, 4, 5
        | ORDER BY interval, principal, event_type, topic, operation""".stripMargin,

    // Admission filter then per-interval identical-event coalescing.
    "sec_audit_coalesce" ->
      """WITH api AS (
        |  SELECT event_id AS seq,
        |         'u' || CAST(user_id % 10 AS VARCHAR) AS principal,
        |         CASE event_type WHEN 'purchase' THEN 'produce'
        |              WHEN 'view' THEN 'fetch' ELSE 'mgmt' END AS etype,
        |         't' || CAST(user_id % 4 AS VARCHAR) AS topic,
        |         CASE event_type WHEN 'purchase' THEN 'write'
        |              WHEN 'view' THEN 'read' ELSE 'describe' END AS operation
        |  FROM events)
        | SELECT seq // 1000 AS interval, principal, etype AS event_type, topic, operation,
        |        count(*) AS count, min(seq) AS first_seq, max(seq) AS last_seq
        | FROM api
        | WHERE etype IN ('produce', 'fetch')
        |   AND topic <> 't3' AND principal <> 'u7'
        | GROUP BY 1, 2, 3, 4, 5
        | ORDER BY interval, principal, event_type, topic, operation""".stripMargin,

    "s2_fetch_follower" ->
      """WITH nodes(node_id, rack, maintenance) AS (VALUES
        |   (0, 'r1', false), (1, 'r1', true), (2, 'r2', false),
        |   (3, 'r2', false), (4, 'r1', false)),
        | reps(topic, partition, node_id, is_leader, hw, leo, is_alive) AS (VALUES
        |   ('t', 0, 0, true, 100, 110, true),
        |   ('t', 0, 2, false, 90, 100, true),
        |   ('t', 0, 4, false, 100, 100, true),
        |   ('t', 1, 2, true, 80, 90, true),
        |   ('t', 1, 1, false, 80, 120, true),
        |   ('t', 1, 4, false, 70, 80, true),
        |   ('t', 2, 3, true, 60, 60, true),
        |   ('t', 2, 0, false, 60, 60, false),
        |   ('t', 2, 2, false, 50, 55, true),
        |   ('t', 3, 0, true, 119, 119, true),
        |   ('t', 3, 3, false, 119, 119, true),
        |   ('t', 3, 2, false, 119, 119, true)),
        | cons AS (
        |  SELECT 'client_' || c_custkey AS client, 't' AS topic,
        |    CAST(c_custkey % 4 AS INTEGER) AS partition,
        |    CAST(c_custkey * 7 % 120 AS BIGINT) AS fetch_offset,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'r1'
        |         WHEN c_custkey % 3 = 1 THEN 'r2' END AS rack
        |  FROM customer WHERE c_custkey <= 48),
        | lead AS (SELECT topic, partition, node_id AS leader_id FROM reps WHERE is_leader),
        | cand AS (
        |  SELECT c.client, c.topic, c.partition, r.node_id,
        |    row_number() OVER (PARTITION BY c.client, c.topic, c.partition
        |                       ORDER BY r.hw DESC, r.node_id ASC) AS rnk
        |  FROM cons c
        |  JOIN reps r ON r.topic = c.topic AND r.partition = c.partition
        |  JOIN nodes n ON n.node_id = r.node_id
        |  WHERE c.rack IS NOT NULL AND r.is_alive AND NOT n.maintenance
        |    AND n.rack = c.rack AND r.leo >= c.fetch_offset),
        | pick AS (SELECT client, topic, partition, node_id FROM cand WHERE rnk = 1)
        |SELECT c.client, c.topic, c.partition, c.fetch_offset, c.rack,
        |  CAST(CASE WHEN c.rack IS NULL THEN l.leader_id ELSE p.node_id END AS BIGINT)
        |    AS preferred_replica,
        |  CASE WHEN c.rack IS NULL THEN 'leader'
        |       WHEN p.node_id IS NOT NULL THEN 'rack'
        |       ELSE 'none' END AS selected_by
        | FROM cons c
        | LEFT JOIN pick p USING (client, topic, partition)
        | LEFT JOIN lead l USING (topic, partition)
        | ORDER BY c.client""".stripMargin,

    // PID fold replayed exactly: permille utilizations, micro-unit
    // coefficients (p=50, i=2, d=10, target=400pm, max=100ms), integral
    // clamp to max_delay/i, truncating division throughout (DuckDB //
    // truncates toward zero exactly like the engine's long division).
    // Invalid samples (busy > dt) carry the previous state verbatim.
    "s2_fetch_pid" ->
      """WITH RECURSIVE base AS (
        |  SELECT 's' || CAST(user_id % 4 AS VARCHAR) AS shard,
        |         CAST(event_id AS BIGINT) AS seq,
        |         CAST(1 + event_id % 4 AS BIGINT) AS dt_ms,
        |         CAST(CASE WHEN event_id % 97 = 0 THEN (1 + event_id % 4) + 5
        |              WHEN (event_id // 1000) % 2 = 0 THEN 1 + event_id % 4
        |              ELSE (1 + event_id % 4) // 2 END AS BIGINT) AS busy_ms,
        |         CAST(((1 + event_id % 4) * (1 + event_id % 3)) // 4 AS BIGINT) AS sg_ms
        |  FROM events),
        | r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY seq) AS rn FROM base),
        | pid AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS seq,
        |         CAST(0 AS BIGINT) AS error_pm, CAST(0 AS BIGINT) AS e_int,
        |         CAST(0 AS BIGINT) AS last_e, CAST(0 AS BIGINT) AS delay_us
        |  FROM (SELECT DISTINCT shard FROM base)
        |  UNION ALL
        |  SELECT r.shard, r.rn, r.seq,
        |    CASE WHEN r.busy_ms <= r.dt_ms AND r.sg_ms <= r.dt_ms
        |         THEN (CASE WHEN r.busy_ms * 1000 // r.dt_ms < 999
        |                    THEN r.busy_ms * 1000 // r.dt_ms - 999
        |                    ELSE r.sg_ms * 1000 // r.dt_ms - 400 END)
        |         ELSE p.last_e END,
        |    CASE WHEN r.busy_ms <= r.dt_ms AND r.sg_ms <= r.dt_ms
        |         THEN greatest(0, least(50000000, p.e_int +
        |                (CASE WHEN r.busy_ms * 1000 // r.dt_ms < 999
        |                      THEN r.busy_ms * 1000 // r.dt_ms - 999
        |                      ELSE r.sg_ms * 1000 // r.dt_ms - 400 END) * r.dt_ms))
        |         ELSE p.e_int END,
        |    CASE WHEN r.busy_ms <= r.dt_ms AND r.sg_ms <= r.dt_ms
        |         THEN (CASE WHEN r.busy_ms * 1000 // r.dt_ms < 999
        |                    THEN r.busy_ms * 1000 // r.dt_ms - 999
        |                    ELSE r.sg_ms * 1000 // r.dt_ms - 400 END)
        |         ELSE p.last_e END,
        |    CASE WHEN r.busy_ms <= r.dt_ms AND r.sg_ms <= r.dt_ms
        |         THEN least(100000, greatest(0,
        |                50 * (CASE WHEN r.busy_ms * 1000 // r.dt_ms < 999
        |                           THEN r.busy_ms * 1000 // r.dt_ms - 999
        |                           ELSE r.sg_ms * 1000 // r.dt_ms - 400 END) // 1000
        |              + 2 * greatest(0, least(50000000, p.e_int +
        |                    (CASE WHEN r.busy_ms * 1000 // r.dt_ms < 999
        |                          THEN r.busy_ms * 1000 // r.dt_ms - 999
        |                          ELSE r.sg_ms * 1000 // r.dt_ms - 400 END) * r.dt_ms)) // 1000
        |              + (10 * ((CASE WHEN r.busy_ms * 1000 // r.dt_ms < 999
        |                             THEN r.busy_ms * 1000 // r.dt_ms - 999
        |                             ELSE r.sg_ms * 1000 // r.dt_ms - 400 END) - p.last_e))
        |                // r.dt_ms // 1000))
        |         ELSE p.delay_us END
        |  FROM pid p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
        |SELECT shard, seq, error_pm, e_int AS error_int, delay_us
        | FROM pid WHERE rn > 0 ORDER BY shard, seq""".stripMargin,
  )
}
