package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.log.{TieredStorage, TxnEngine}
import graft.operators.Operators

import graft.SparkEntry._


/** Driver-contract entries: the HTTP admin-API route registry scripts
  * (`adm_rest_*`) — golden request/response walks over the reference's
  * admin api-doc surface (security, transform, partitions, migrations,
  * debug, recovery, txn, cluster-ext, cloud-storage).
  *
  * Pure move out of [[IngestProtoEntries]] (round 16, file-size
  * guideline): the entry and oracle text is byte-identical to its former
  * spelling; the combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object AdminRestScriptEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "adm_rest_api" -> ((s, dir) => {
      // The broker Admin HTTP API protocol (redpanda/admin/server.cc
      // routes + api-doc JSON shapes) scripted end-to-end over the
      // deterministic cluster model: broker listing/maintenance/
      // decommission ladder, health_overview before/after a node drop,
      // cluster_config get/patch (per-key 400 error map, dry_run,
      // version bump), features state transition, partition detail +
      // leadership transfer ladder, self-test lifecycle, debug-bundle
      // conflict ladder, cluster uuid. Details parse the RESPONSE
      // bodies — the JSON field names are the pinned contract.
      import s.implicits._
      import graft.admin.AdminApi
      import graft.log.TxnEngine
      import com.fasterxml.jackson.databind.ObjectMapper
      val m = new ObjectMapper()
      // /v1/transactions renders the COORDINATOR ENGINE's state: the
      // same marker-carrying fixture shape t3 uses (one ongoing, one
      // committed, one aborted txn), listed by TxnEngine.listTransactions
      // and detailed by describeTransactions (bounded collects, 3 txns)
      val txnLog = Seq(
        (0, 0L, 10L, 0, 0L, false, null.asInstanceOf[String], 1),
        (1, 0L, 10L, 0, 0L, false, null.asInstanceOf[String], 1),
        (0, 1L, 11L, 1, 0L, false, null.asInstanceOf[String], 1),
        (0, 2L, 11L, 1, 0L, true, "commit", 1),
        (1, 1L, 12L, 0, 0L, false, null.asInstanceOf[String], 1),
        (1, 2L, 12L, 0, 0L, true, "abort", 1))
        .toDF("partition", "offset", "pid", "epoch", "txn_seq",
          "is_control", "decision", "batch_type")
      val txnParts = TxnEngine.describeTransactions(txnLog).collect()
        .groupBy(_.getLong(0))
        .map { case (pid, rs) =>
          pid -> rs.map(r => ("kafka", "events", r.getInt(2))).toSeq.sorted
        }
      val txnProvider = () => TxnEngine.listTransactions(txnLog).collect()
        .map(r => AdminApi.TxnSummary(s"tx-${r.getLong(0)}", r.getLong(0),
          0, r.getLong(1), r.getString(2), 60000L,
          txnParts.getOrElse(r.getLong(0), Nil)))
        .sortBy(_.producerId).toSeq
      // /v1/usage renders the METERING ENGINE's tumbling windows
      // (Operators.usageWindows) over a fixed event slice
      val usageSrc = Seq(
        (1700000000000L, "n0", 100L), (1700000060000L, "n0", 200L),
        (1700003600000L, "n0", 500L))
        .toDF("ts", "grp", "bytes")
      val usageProvider = () => {
        val ws = graft.operators.Operators.usageWindows(usageSrc,
          timestamp_millis(col("ts")), col("grp"), col("bytes"))
          .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(2)))
          .sortBy(_._1).toSeq
        ws.zipWithIndex.map { case ((start, bytes), i) =>
          AdminApi.UsageWindow(start, start + 3600000L, i == ws.size - 1,
            bytes, bytes)
        }
      }
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2),
        transactions = txnProvider, usage = usageProvider)
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 1, leader = 1, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "audit", 0, leader = 2, replicas = Seq(2))
      def j(b: String) = m.readTree(b)
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("GET", "/v1/brokers", None, r =>
          s"n=${j(r.body).size()};b0=${j(r.body).get(0).get("membership_status").asText()}" +
            s",alive=${j(r.body).get(0).get("is_alive").asBoolean()}"),
        ("PUT", "/v1/brokers/1/maintenance", None, _ => "drained"),
        ("GET", "/v1/brokers/1", None, r => {
          val ms = j(r.body).get("maintenance_status")
          s"draining=${ms.get("draining").asBoolean()},partitions=${ms.get("partitions").asInt()}"
        }),
        ("DELETE", "/v1/brokers/1/maintenance", None, _ => "restored"),
        ("PUT", "/v1/brokers/2/decommission", None, _ => "decommissioning"),
        ("PUT", "/v1/brokers/2/decommission", None, r =>
          "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/brokers/2/recommission", None, _ => "recommissioned"),
        ("PUT", "/v1/brokers/9/decommission", None, r =>
          "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/cluster/health_overview", None, r =>
          s"healthy=${j(r.body).get("is_healthy").asBoolean()}" +
            s",nodes=${j(r.body).get("all_nodes").size()}"),
        ("GET", "/v1/cluster_config", None, r =>
          "segment_size=" + j(r.body).get("log_segment_size").asLong()),
        ("PUT", "/v1/cluster_config", Some(
          """{"upsert":{"log_segment_size":268435456},"remove":[]}"""),
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("PUT", "/v1/cluster_config", Some(
          """{"upsert":{"nope_prop":1,"enable_rack_awareness":"yes"},"remove":[]}"""),
          r => s"nope_prop=${j(r.body).get("nope_prop").asText()};" +
            s"rack=${j(r.body).get("enable_rack_awareness").asText()}"),
        ("PUT", "/v1/cluster_config?dry_run=true", Some(
          """{"upsert":{"default_topic_replications":3},"remove":[]}"""),
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("GET", "/v1/cluster_config/status", None, r =>
          s"n=${j(r.body).size()};v=${j(r.body).get(0).get("config_version").asLong()}"),
        ("GET", "/v1/cluster_config/schema", None, r => {
          val p = j(r.body).get("properties").get("cloud_storage_enabled")
          s"type=${p.get("type").asText()},needs_restart=${p.get("needs_restart").asBoolean()}"
        }),
        ("GET", "/v1/features", None, r =>
          s"cluster_version=${j(r.body).get("cluster_version").asLong()}" +
            s",n=${j(r.body).get("features").size()}"),
        ("PUT", "/v1/features/datalake_iceberg", Some("""{"state":"active"}"""),
          _ => "activated"),
        ("GET", "/v1/partitions/kafka/events/1", None, r =>
          s"leader=${j(r.body).get("leader_id").asInt()}" +
            s",replicas=${j(r.body).get("replicas").size()}"),
        ("POST", "/v1/partitions/kafka/events/1/transfer_leadership?target=2",
          None, _ => "transferred"),
        ("POST", "/v1/partitions/kafka/audit/0/transfer_leadership?target=1",
          None, r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/debug/self_test/start", Some(
          """{"tests":[{"type":"disk"},{"type":"network"}]}"""),
          r => "id=" + j(r.body).asText().takeRight(6)),
        ("GET", "/v1/debug/self_test/status", None, r =>
          s"status=${j(r.body).get(0).get("status").asText()}" +
            s",stage=${j(r.body).get(0).get("stage").asText()}"),
        ("POST", "/v1/debug/self_test/stop", None, _ => "stopped"),
        ("GET", "/v1/debug/self_test/status", None, r => {
          val n0 = j(r.body).get(0)
          s"status=${n0.get("status").asText()},results=${n0.get("results").size()}" +
            s",p99=${n0.get("results").get(0).get("p99").asLong()}"
        }),
        ("POST", "/v1/debug_bundle", None, r =>
          "job=" + j(r.body).get("job_id").asText().takeRight(6)),
        ("POST", "/v1/debug_bundle", None, r =>
          "code=" + j(r.body).get("code").asInt()),
        ("DELETE", "/v1/debug_bundle/10000000-0000-4000-8000-000000000001",
          None, _ => "cancelled"),
        ("GET", "/v1/debug_bundle/10000000-0000-4000-8000-000000000001",
          None, r => "status=" + j(r.body).get("status").asText()),
        ("GET", "/v1/cluster/uuid", None, r =>
          "uuid=" + j(r.body).get("cluster_uuid").asText().takeRight(1)),
        ("GET", "/v1/transactions?coordinator_partition_id=0", None, r => {
          val a = j(r.body)
          val rows = (0 until a.size()).map(a.get)
          s"n=${a.size()};" + rows.map(t =>
            s"${t.get("transactional_id").asText()}:${t.get("status").asText()}" +
              s":p${t.get("partitions").size()}").mkString(",")
        }),
        ("GET", "/v1/usage", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/cluster_config", Some(
          """{"upsert":{"enable_usage":true},"remove":[]}"""),
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("GET", "/v1/usage", None, r => {
          // default EXCLUDES the open bucket (usage.cc include_open)
          val a = j(r.body)
          val rows = (0 until a.size()).map(a.get)
          s"windows=${a.size()};" + rows.map(w =>
            s"${w.get("kafka_bytes_sent_count").asLong()}@${
              w.get("open").asBoolean()}").mkString(",")
        }),
        ("GET", "/v1/usage?include_open_bucket=true", None, r => {
          val a = j(r.body)
          val rows = (0 until a.size()).map(a.get)
          s"windows=${a.size()};" + rows.map(w =>
            s"${w.get("kafka_bytes_sent_count").asLong()}@${
              w.get("open").asBoolean()}:end=${
              w.get("end_timestamp").asLong()}").mkString(",") +
            s",gauge=${a.get(0).get("cloud_storage_bytes_gauge").asLong()}"
        }))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_security" -> ((s, dir) => {
      // The admin security surface (redpanda/admin/security.cc): SCRAM
      // user CRUD over the graft.security.Scram credential kernel
      // (create/update derive real stored keys; idempotent re-create
      // accepts only a matching password) and the RBAC role routes with
      // the role_errc JSON ladder (40001/40004/40401/40901 — HTTP
      // status = code/100). Validation wording is pinned verbatim,
      // including the reference's "password smissing" typo.
      import s.implicits._
      import graft.admin.AdminApi
      import com.fasterxml.jackson.databind.ObjectMapper
      val m = new ObjectMapper()
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2))
      def j(b: String) = m.readTree(b)
      def cred(alg: String, pw: String, user: String = null) =
        Some((if (user == null) s"""{"algorithm":"$alg","password":"$pw"}"""
          else s"""{"algorithm":"$alg","password":"$pw","username":"$user"}"""))
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("POST", "/v1/security/users", cred("SCRAM-SHA-256", "pw1", "alice"),
          _ => "created"),
        ("POST", "/v1/security/users", cred("SCRAM-SHA-256", "pw1", "alice"),
          _ => "idempotent"),
        ("POST", "/v1/security/users", cred("SCRAM-SHA-256", "other", "alice"),
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/security/users", cred("SCRAM-MD5", "x", "carl"),
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/security/users", cred("SCRAM-SHA-256", "x"),
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/security/users", cred("SCRAM-SHA-512", "pw2", "bob"),
          _ => "created"),
        ("GET", "/v1/security/users", None, r => {
          val a = j(r.body)
          s"n=${a.size()};" + (0 until a.size()).map(a.get(_).asText()).mkString(",")
        }),
        ("PUT", "/v1/security/users/alice", cred("SCRAM-SHA-512", "rotated"),
          _ => "updated"),
        ("PUT", "/v1/security/users/nobody", cred("SCRAM-SHA-256", "x"),
          r => "message=" + j(r.body).get("message").asText()),
        ("DELETE", "/v1/security/users/bob", None, _ => "deleted"),
        ("DELETE", "/v1/security/users/bob", None, _ => "idempotent"),
        ("POST", "/v1/security/roles", Some("""{"role":"ops"}"""),
          r => "role=" + j(r.body).get("role").asText()),
        ("POST", "/v1/security/roles", Some("""{"role":"ops"}"""),
          _ => "idempotent"),
        ("POST", "/v1/security/roles", Some("""{"nope":1}"""),
          r => s"code=${j(r.body).get("code").asInt()}"),
        ("POST", "/v1/security/roles", Some("""{"role":"a=b"}"""),
          r => s"code=${j(r.body).get("code").asInt()}" +
            s",message=${j(r.body).get("message").asText()}"),
        ("POST", "/v1/security/roles/ops/members", Some(
          """{"add":[{"name":"alice","principal_type":"User"},""" +
            """{"name":"bob","principal_type":"User"}]}"""),
          r => s"added=${j(r.body).get("added").size()}" +
            s",removed=${j(r.body).get("removed").size()}" +
            s",created=${j(r.body).get("created").asBoolean()}"),
        ("POST", "/v1/security/roles/ops/members", Some(
          """{"add":[{"name":"alice","principal_type":"User"}]}"""),
          r => s"added=${j(r.body).get("added").size()}"),
        ("POST", "/v1/security/roles/ops/members", Some(
          """{"add":[{"name":"x","principal_type":"User"}],""" +
            """"remove":[{"name":"x","principal_type":"User"}]}"""),
          r => s"code=${j(r.body).get("code").asInt()}"),
        ("POST", "/v1/security/roles/ops/members", Some(
          """{"add":[{"name":"g1","principal_type":"Group"}]}"""),
          r => s"code=${j(r.body).get("code").asInt()}"),
        ("POST", "/v1/security/roles/new1/members", Some("""{"add":[]}"""),
          r => s"code=${j(r.body).get("code").asInt()}"),
        ("POST", "/v1/security/roles/new1/members?create=true", Some(
          """{"add":[{"name":"carol","principal_type":"User"}]}"""),
          r => s"created=${j(r.body).get("created").asBoolean()}"),
        ("GET", "/v1/security/roles", None,
          r => s"roles=${j(r.body).get("roles").size()}"),
        ("GET", "/v1/security/roles?principal=carol", None,
          r => s"roles=${j(r.body).get("roles").size()}" +
            s",first=${j(r.body).get("roles").get(0).get("name").asText()}"),
        ("GET", "/v1/security/roles?principal_type=Group", None,
          r => s"code=${j(r.body).get("code").asInt()}"),
        ("GET", "/v1/security/roles/ops", None,
          r => s"name=${j(r.body).get("name").asText()}" +
            s",members=${j(r.body).get("members").size()}" +
            s",t0=${j(r.body).get("members").get(0).get("principal_type").asText()}"),
        ("GET", "/v1/security/roles/nope", None,
          r => s"code=${j(r.body).get("code").asInt()}" +
            s",message=${j(r.body).get("message").asText()}"),
        ("DELETE", "/v1/security/roles/ops", None, _ => "deleted"),
        ("GET", "/v1/security/roles/ops", None,
          r => s"code=${j(r.body).get("code").asInt()}"))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_transform" -> ((s, dir) => {
      // The wasm-transform admin surface (redpanda/admin/transform.cc):
      // gated on data_transforms_enabled (flipped mid-script through the
      // cluster_config PUT route, the same knob rpk sets), deploy with
      // the JSON-header-then-binary wire format and the validation
      // ladder, transform_metadata listing with per-partition status,
      // metadata patch (pause), delete, and the committed-offsets debug
      // listing + GC. Committed offsets come from the TRANSFORM ENGINE:
      // Transforms.commitBatcher folds a progress log to final offsets
      // (bounded collect, 2 keys), fed to the admin model.
      import s.implicits._
      import graft.admin.AdminApi
      import com.fasterxml.jackson.databind.ObjectMapper
      val m = new ObjectMapper()
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 1, leader = 1, replicas = Seq(0, 1, 2))
      // engine-side: the commit batcher's final committed offset per
      // (transform, partition) seeds the admin debug table
      val progress = Seq(
        ("mirror", 0, "events_out", 0L, 10L), ("mirror", 0, "events_out", 1L, 41L),
        ("mirror", 1, "events_out", 0L, 7L))
        .toDF("transform", "partition", "output_topic", "seq", "offset")
      graft.streaming.Transforms.commitBatcher(progress, intervalLen = 16)
        .select("transform", "partition", "committed_offset")
        .orderBy("transform", "partition").collect()
        .foreach(r => srv.commitTransformOffset(r.getString(0), r.getInt(1), r.getLong(2)))
      def j(b: String) = m.readTree(b)
      val meta = """{"name":"mirror","input_topic":"events",""" +
        """"output_topics":["events_out"],""" +
        """"environment":[{"key":"MODE","value":"upper"}],"compression":"lz4"}"""
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("GET", "/v1/transform", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/cluster_config", Some(
          """{"upsert":{"data_transforms_enabled":true},"remove":[]}"""),
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("POST", "/v1/transform/deploy", Some(meta + "\u0000asm\u0001wasm-bytes"),
          _ => "deployed"),
        ("POST", "/v1/transform/deploy", Some(
          """{"name":"x","input_topic":"t"}bin"""),
          r => "message=" + j(r.body).get("message").asText().takeWhile(_ != ':')),
        ("POST", "/v1/transform/deploy", Some(
          """{"name":"x","input_topic":"t","output_topics":["o"],""" +
            """"offset":{"format":"from_start","value":-3}}bin"""),
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/transform", None, r => {
          val t0 = j(r.body).get(0)
          s"n=${j(r.body).size()};${t0.get("name").asText()}:" +
            s"${t0.get("input_topic").asText()}->" +
            s"${t0.get("output_topics").get(0).asText()}" +
            s",parts=${t0.get("status").size()}" +
            s",comp=${t0.get("compression").asText()}" +
            s",st=${t0.get("status").get(0).get("status").asText()}"
        }),
        ("PUT", "/v1/transform/mirror/meta", Some("""{"is_paused":true}"""),
          _ => "paused"),
        ("GET", "/v1/transform", None, r =>
          "st=" + j(r.body).get(0).get("status").get(0).get("status").asText()),
        ("PUT", "/v1/transform/ghost/meta", Some("{}"), _ => "noop"),
        ("PUT", "/v1/transform/ghost/meta", Some("""{"is_paused":true}"""),
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/transform/debug/committed_offsets", None, r => {
          val a = j(r.body)
          s"n=${a.size()};" + (0 until a.size()).map { i =>
            val o = a.get(i)
            s"${o.get("transform_name").asText()}:${o.get("partition").asInt()}" +
              s"@${o.get("offset").asLong()}"
          }.mkString(",")
        }),
        ("DELETE", "/v1/transform/mirror", None, _ => "deleted"),
        ("DELETE", "/v1/transform/mirror", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/transform/debug/committed_offsets", None,
          r => s"n=${j(r.body).size()}"),
        ("GET", "/v1/transform/debug/committed_offsets?show_unknown=true", None,
          r => s"n=${j(r.body).size()}"),
        ("POST", "/v1/transform/debug/committed_offsets/garbage_collect", None,
          _ => "swept"),
        ("GET", "/v1/transform/debug/committed_offsets?show_unknown=true", None,
          r => s"n=${j(r.body).size()}"))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_partitions" -> ((s, dir) => {
      // The partition admin surface (redpanda/admin/partition.cc):
      // set_partition_replicas with the validate_set_replicas ladder
      // (controller refusal, typed entries, known node/shard, distinct
      // nodes, no-op short-circuit), the reconfigurations listing
      // (previous/current assignments, byte progress, policy),
      // topic-level partition listing with in-progress status, the
      // local summary, cancel (restores the previous assignment) and
      // its no-move 400, and the on-demand rebalance trigger. FINISH
      // pseudo-steps stand in for the backend completing a move.
      import s.implicits._
      import graft.admin.AdminApi
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 1, leader = 1, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "audit", 0, leader = 2, replicas = Seq(2))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("POST", "/v1/partitions/redpanda/controller/0/replicas", Some("[]"),
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/partitions/kafka/events/0/replicas",
          Some("""[{"node_id":9,"core":0}]"""),
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/partitions/kafka/events/0/replicas",
          Some("""[{"node_id":"a","core":0}]"""),
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/partitions/kafka/events/0/replicas",
          Some("""[{"node_id":0,"core":0},{"node_id":1,"core":0},""" +
            """{"node_id":2,"core":0}]"""),
          _ => "noop"),
        ("POST", "/v1/partitions/kafka/events/0/replicas",
          Some("""[{"node_id":0,"core":0},{"node_id":1,"core":0}]"""),
          _ => "moved"),
        ("GET", "/v1/partitions/reconfigurations", None, r => {
          val a = j(r.body)
          s"n=${a.size()};prev=${a.get(0).get("previous_replicas").size()}" +
            s",cur=${a.get(0).get("current_replicas").size()}" +
            s",policy=${a.get(0).get("reconfiguration_policy").asText()}"
        }),
        ("GET", "/v1/partitions/kafka/events", None, r => {
          val a = j(r.body)
          s"n=${a.size()};" + (0 until a.size()).map { i =>
            val p = a.get(i)
            s"p${p.get("partition_id").asInt()}=${p.get("status").asText()}:" +
              s"${p.get("replicas").size()}"
          }.mkString(",")
        }),
        ("GET", "/v1/partitions/local_summary", None, r =>
          s"count=${j(r.body).get("count").asInt()}" +
            s",leaderless=${j(r.body).get("leaderless").asInt()}" +
            s",under_replicated=${j(r.body).get("under_replicated").asInt()}"),
        ("POST", "/v1/partitions/kafka/events/0/cancel_reconfiguration", None,
          _ => "cancelled"),
        ("GET", "/v1/partitions/kafka/events", None, r =>
          s"p0_replicas=${j(r.body).get(0).get("replicas").size()}"),
        ("POST", "/v1/partitions/kafka/events/0/cancel_reconfiguration", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/partitions/kafka/events/1/replicas",
          Some("""[{"node_id":2,"core":0}]"""), _ => "moved"),
        ("FINISH", "kafka/events/1", None, _ => "finished"),
        ("GET", "/v1/partitions/reconfigurations", None,
          r => s"n=${j(r.body).size()}"),
        ("GET", "/v1/partitions/kafka/events", None, r =>
          s"p1_replicas=${j(r.body).get(1).get("replicas").size()}"),
        ("POST", "/v1/partitions/rebalance", None, _ => "accepted"),
        ("GET", "/v1/partitions/kafka/nope", None,
          r => "message=" + j(r.body).get("message").asText()))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        if (method == "FINISH") {
          val Array(ns, topic, part) = path.split("/")
          srv.finishReconfiguration(ns, topic, part.toInt)
          (i + 1, method, "/v1/partitions/" + path, 200, "finished")
        } else {
          val resp = srv.handle(method, path, b)
          (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
        }
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_migrations" -> ((s, dir) => {
      // The data-migration admin surface (redpanda/admin/migrations.cc
      // + topics.cc): creation gated on cloud storage (flipped through
      // the cluster_config route), the add/get/list/action/delete
      // ladder over the FSM in data_migration_table.cc:57 (user
      // actions move planned→preparing→…, ADVANCE steps stand in for
      // the backend completing a stage), topic mount/unmount as
      // auto-advancing inbound/outbound migrations, and the mountable
      // listing — ENGINE-backed: TieredStorage.archive's manifest
      // (bounded, one row per tier×partition) decides what is
      // mountable and its revision.
      import s.implicits._
      import graft.admin.AdminApi
      val archived = graft.log.TieredStorage.archive(
        storedLog(s, dir).where(col("offset") < 200)
          .withColumn("ts", col("ts").cast("timestamp")),
        col("ts"), lit("2200-01-01").cast("timestamp"),
        java.nio.file.Files.createTempDirectory("adm_mig_local").toString,
        java.nio.file.Files.createTempDirectory("adm_mig_arch").toString)
        .where(col("tier") === "archive").count().toInt
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2),
        mountableTopics = () =>
          if (archived > 0)
            Seq(("kafka", "events",
              s"events/00000000-0000-4000-8000-000000000001/$archived"))
          else Nil)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      val outboundBody = Some(
        """{"migration_type":"outbound","topics":[{"topic":"events"}],""" +
          """"consumer_groups":["cg1"]}""")
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("PUT", "/v1/migrations", outboundBody,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/cluster_config", Some(
          """{"upsert":{"cloud_storage_enabled":true},"remove":[]}"""),
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("PUT", "/v1/migrations", Some("""{"migration_type":"sideways"}"""),
          r => "message=" + j(r.body).get("message").asText().takeWhile(_ != ':')),
        ("PUT", "/v1/migrations", outboundBody,
          r => "id=" + j(r.body).get("id").asLong()),
        ("GET", "/v1/migrations/1", None, r =>
          s"state=${j(r.body).get("state").asText()}" +
            s",type=${j(r.body).get("migration").get("migration_type").asText()}" +
            s",topics=${j(r.body).get("migration").get("topics").size()}" +
            s",groups=${j(r.body).get("migration").get("consumer_groups").size()}" +
            s",auto=${j(r.body).get("migration").get("auto_advance").asBoolean()}"),
        ("POST", "/v1/migrations/1?action=execute", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/migrations/1?action=prepare", None, _ => "accepted"),
        ("ADVANCE", "1", None, _ => "advanced"),
        ("GET", "/v1/migrations/1", None,
          r => "state=" + j(r.body).get("state").asText()),
        ("POST", "/v1/migrations/1?action=execute", None, _ => "accepted"),
        ("ADVANCE", "1", None, _ => "advanced"),
        ("POST", "/v1/migrations/1?action=finish", None, _ => "accepted"),
        ("DELETE", "/v1/migrations/1", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("ADVANCE", "1", None, _ => "advanced"),
        ("GET", "/v1/migrations/1", None, r =>
          s"state=${j(r.body).get("state").asText()}" +
            s",completed=${j(r.body).has("completed_timestamp")}"),
        ("DELETE", "/v1/migrations/1", None, _ => "deleted"),
        ("GET", "/v1/migrations/1", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/topics/mountable", None, r => {
          val a = j(r.body).get("topics")
          s"n=${a.size()};" + (0 until a.size()).map(i =>
            s"${a.get(i).get("topic").asText()}@${
              a.get(i).get("topic_location").asText()}").mkString(",")
        }),
        ("POST", "/v1/topics/mount", Some(
          """{"topics":[{"source_topic_reference":{"topic":"orders"},""" +
            """"alias":{"topic":"orders2"}}]}"""),
          r => "id=" + j(r.body).get("id").asLong()),
        ("GET", "/v1/migrations/2", None, r =>
          s"type=${j(r.body).get("migration").get("migration_type").asText()}" +
            s",auto=${j(r.body).get("migration").get("auto_advance").asBoolean()}" +
            s",src=${j(r.body).get("migration").get("topics").get(0)
              .get("source_topic_reference").get("topic").asText()}" +
            s",alias=${j(r.body).get("migration").get("topics").get(0)
              .get("alias").get("topic").asText()}"),
        ("POST", "/v1/topics/unmount", Some(
          """{"topics":[{"topic":"orders2","ns":"kafka"}]}"""),
          r => "id=" + j(r.body).get("id").asLong()),
        ("POST", "/v1/migrations/3?action=prepare", None, _ => "accepted"),
        ("POST", "/v1/migrations/3?action=cancel", None, _ => "accepted"),
        ("ADVANCE", "3", None, _ => "advanced"),
        ("GET", "/v1/migrations/3", None,
          r => "state=" + j(r.body).get("state").asText()),
        ("GET", "/v1/migrations", None, r => "n=" + j(r.body).size()),
        ("POST", "/v1/migrations/2?action=jump", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/migrations/zap", None,
          r => "message=" + j(r.body).get("message").asText()))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        if (method == "ADVANCE") {
          srv.advanceMigration(path.toLong)
          (i + 1, method, "/v1/migrations/" + path, 200, "advanced")
        } else {
          val resp = srv.handle(method, path, b)
          (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
        }
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_debug" -> ((s, dir) => {
      // The incident-time debug surface (redpanda/admin/debug.cc):
      // leaders-table dump + reset, the stress-fiber validation ladder,
      // peer status, controller/isolation status, blocked-reactor
      // clamping, sampled memory/cpu profiles with shard validation,
      // service restart, per-ntp partition state, storage failure
      // injection, local/cloud storage usage, disk-stat overrides, the
      // offset-translator route, and the broker-uuid override ladder.
      // ENGINE-backed: offset translation wraps TxnEngine's translator
      // state for partition 0 (per-partition translator state is
      // control-plane-sized in the reference too), partition state and
      // local_storage_usage render the stored log's real offsets/bytes.
      import s.implicits._
      import graft.admin.AdminApi
      val trans = TxnEngine.offsetTranslation(txnLog(s, dir))
        .where(col("partition") === 0 && col("offset") < 64)
        .select("offset", "kafka_offset").collect()
      val rpToKafka: Map[Long, Long] = trans.collect {
        case r if !r.isNullAt(1) => r.getLong(0) -> r.getLong(1)
      }.toMap
      val kafkaToRp = rpToKafka.map(_.swap)
      val logStats = storedLog(s, dir)
        .where(col("partition") === 0 && col("offset") < 200)
        .agg(min("offset"), max("offset"),
          sum(length(col("props").cast("string"))), count(lit(1))).collect()(0)
      val (startOff, hwm) = (logStats.getLong(0), logStats.getLong(1) + 1)
      val dataBytes = logStats.getLong(2)
      val nRows = logStats.getLong(3)
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2),
        cloudStorageUsage = () => Some(dataBytes),
        localStorageUsage = () => Map(
          "data" -> dataBytes, "index" -> 16L * nRows,
          "target_min_capacity" -> (dataBytes * 2)),
        offsetTranslator = (ns, topic, p) =>
          if (ns == "kafka" && topic == "events" && p == 0)
            Some((off, toKafka) =>
              if (toKafka) rpToKafka.get(off).map(k => (k, off))
              else kafkaToRp.get(off).map(rp => (off, rp)))
          else None,
        partitionLogState = (ns, topic, p) =>
          if (ns == "kafka" && topic == "events" && p == 0)
            Some((startOff, hwm, hwm, hwm, hwm, dataBytes))
          else None)
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 1, leader = 1, replicas = Seq(0, 1, 2))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      val kOf3 = rpToKafka.getOrElse(3L, -1L)
      val rpOf2 = kafkaToRp.getOrElse(2L, -1L)
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("GET", "/v1/debug/partition_leaders_table", None, r => {
          val a = j(r.body)
          s"n=${a.size()};p0=${a.get(0).get("leader").asInt()}" +
            s",prev=${a.get(0).get("previous_leader").asInt()}"
        }),
        ("POST", "/v1/partitions/kafka/events/0/transfer_leadership?target=1",
          None, _ => "transferred"),
        ("GET", "/v1/debug/partition_leaders_table", None, r =>
          s"p0=${j(r.body).get(0).get("leader").asInt()}" +
            s",prev=${j(r.body).get(0).get("previous_leader").asInt()}" +
            s",term=${j(r.body).get(0).get("update_term").asLong()}"),
        ("POST", "/v1/debug/reset_leaders", None, _ => "reset"),
        ("GET", "/v1/debug/partition_leaders_table", None, r =>
          s"prev=${j(r.body).get(0).get("previous_leader").asInt()}"),
        ("PUT", "/v1/debug/stress_fiber_start?min_spins_per_scheduling_point=10",
          None, r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/stress_fiber_start", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/stress_fiber_start?min_spins_per_scheduling_point=5" +
          "&max_spins_per_scheduling_point=2", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/stress_fiber_start?min_ms_per_scheduling_point=1" +
          "&max_ms_per_scheduling_point=5&num_fibers=x", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/stress_fiber_start?min_spins_per_scheduling_point=1" +
          "&max_spins_per_scheduling_point=5&num_fibers=2", None, _ => "started"),
        ("PUT", "/v1/debug/stress_fiber_stop", None, _ => "stopped"),
        ("GET", "/v1/debug/peer_status/abc", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/peer_status/9", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/peer_status/1", None,
          r => s"since=${j(r.body).get("since_last_status").asLong()}"),
        ("GET", "/v1/debug/is_node_isolated", None, r => "isolated=" + r.body),
        ("GET", "/v1/debug/controller_status", None, r =>
          s"applied=${j(r.body).get("last_applied_offset").asLong()}" +
            s",start=${j(r.body).get("start_offset").asLong()}"),
        ("GET", "/v1/debug/cloud_storage_usage?batch_size=x", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/cloud_storage_usage", None, r => "bytes=" + r.body),
        ("PUT", "/v1/debug/blocked_reactor_notify_ms?timeout=abc", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/blocked_reactor_notify_ms?timeout=10&expires=60",
          None, _ => "set"),
        ("GET", "/v1/debug/sampled_memory_profile?shard=5", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/sampled_memory_profile?shard=1", None, r =>
          s"n=${j(r.body).size()};shard=${j(r.body).get(0).get("shard").asInt()}" +
            s",sites=${j(r.body).get(0).get("allocation_sites").size()}"),
        ("GET", "/v1/debug/cpu_profile?wait_ms=0", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/cpu_profile?shard=0", None, r =>
          s"n=${j(r.body).size()};occ=${j(r.body).get(0).get("samples")
            .get(0).get("occurrences").asInt()}"),
        ("PUT", "/v1/debug/restart_service?service=foo", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/restart_service?service=schema-registry", None,
          _ => "restarted"),
        ("GET", "/v1/debug/partition/kafka/events/0", None, r => {
          val rep = j(r.body).get("replicas").get(0)
          s"ntp=${j(r.body).get("ntp").asText()}" +
            s",replicas=${j(r.body).get("replicas").size()}" +
            s",start=${rep.get("start_offset").asLong()}" +
            s",hwm=${rep.get("high_watermark").asLong()}" +
            s",leader=${rep.get("raft_state").get("is_leader").asBoolean()}" +
            s",stm=${rep.get("raft_state").get("stms").get(0).get("name").asText()}"
        }),
        ("GET", "/v1/debug/partition/kafka/ghost/0", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/set_storage_failure_injection_enabled?value=yes",
          None, r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/set_storage_failure_injection_enabled?value=true",
          None, _ => "enabled"),
        ("GET", "/v1/debug/local_storage_usage", None, r =>
          s"data=${j(r.body).get("data").asLong()}" +
            s",index=${j(r.body).get("index").asLong()}" +
            s",cache=${j(r.body).get("cloud_storage_cache_bytes").asLong()}"),
        ("GET", "/v1/debug/storage/disk_stat/ssd", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/storage/disk_stat/data", None, r =>
          s"total=${j(r.body).get("total_bytes").asLong()}" +
            s",free=${j(r.body).get("free_bytes").asLong()}"),
        ("PUT", "/v1/debug/storage/disk_stat/data",
          Some("""{"free_bytes":1000}"""), _ => "overridden"),
        ("PUT", "/v1/debug/storage/disk_stat/data",
          Some("""{"fs":"ext4"}"""),
          r => "message=" + j(r.body).get("message").asText().takeWhile(_ != ':')),
        ("GET", "/v1/debug/storage/disk_stat/data", None, r =>
          s"free=${j(r.body).get("free_bytes").asLong()}"),
        ("GET", "/v1/debug/storage/offset_translator/kafka/events/0" +
          "?translate_to=bogus", Some("[0]"),
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/storage/offset_translator/kafka/ghost/0", Some("[0]"),
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/storage/offset_translator/kafka/events/0",
          Some("[not json"),
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/storage/offset_translator/kafka/events/0",
          Some("[3]"), r => {
            val o = j(r.body).get(0)
            s"kafka=${o.get("kafka_offset").asLong()}" +
              s",rp=${o.get("rp_offset").asLong()}" +
              s",engine=${o.get("kafka_offset").asLong() == kOf3}"
          }),
        ("GET", "/v1/debug/storage/offset_translator/kafka/events/0" +
          "?translate_to=redpanda", Some("[2]"), r => {
            val o = j(r.body).get(0)
            s"kafka=${o.get("kafka_offset").asLong()}" +
              s",rp=${o.get("rp_offset").asLong()}" +
              s",engine=${o.get("rp_offset").asLong() == rpOf2}"
          }),
        ("GET", "/v1/debug/storage/offset_translator/kafka/events/0",
          Some("[99999]"),
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/debug/broker_uuid", None, r =>
          s"uuid=${j(r.body).get("node_uuid").asText()}" +
            s",id=${j(r.body).get("node_id").asInt()}"),
        ("PUT", "/v1/debug/broker_uuid", Some(
          """{"current_node_uuid":"99999999-9999-4999-8999-999999999999",""" +
            """"new_node_uuid":"22222222-2222-4222-8222-000000000002",""" +
            """"new_node_id":7}"""),
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/broker_uuid", Some(
          """{"current_node_uuid":"11111111-1111-4111-8111-000000000001",""" +
            """"new_node_uuid":"22222222-2222-4222-8222-000000000002",""" +
            """"new_node_id":-1}"""),
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/debug/broker_uuid", Some(
          """{"current_node_uuid":"11111111-1111-4111-8111-000000000001",""" +
            """"new_node_uuid":"22222222-2222-4222-8222-000000000002",""" +
            """"new_node_id":7}"""), _ => "overridden"),
        ("GET", "/v1/debug/broker_uuid", None, r =>
          s"uuid=${j(r.body).get("node_uuid").asText()}" +
            s",id=${j(r.body).get("node_id").asInt()}"))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_recovery" -> ((s, dir) => {
      // The recovery-mode surface (redpanda/admin/recovery.cc:28-55):
      // the tx-manager migrator pair — migrate (with the 503 "Migration
      // error: …" arm on a migrator error) and the status report — only
      // registered when the broker boots in recovery mode (outside it
      // the paths 404 like any unregistered route).
      import s.implicits._
      import graft.admin.AdminApi
      val normal = new AdminApi.Server(nodeIds = Seq(0))
      val srv = new AdminApi.Server(nodeIds = Seq(0), recoveryMode = true)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      val script: Seq[(String, AdminApi.Server, String, AdminApi.Resp => String)] = Seq(
        ("GET", normal, "/v1/recovery/migrate_tx_manager",
          r => s"code=${j(r.body).get("code").asInt()}"),
        ("GET", srv, "/v1/recovery/migrate_tx_manager", r =>
          s"required=${j(r.body).get("required").asBoolean()}" +
            s",in_progress=${j(r.body).get("in_progress").asBoolean()}"),
        ("FAIL", srv, "stuck controller", _ => "injected"),
        ("POST", srv, "/v1/recovery/migrate_tx_manager",
          r => "message=" + j(r.body).get("message").asText()),
        ("HEAL", srv, "", _ => "healed"),
        ("POST", srv, "/v1/recovery/migrate_tx_manager", _ => "migrated"),
        ("GET", srv, "/v1/recovery/migrate_tx_manager", r =>
          s"required=${j(r.body).get("required").asBoolean()}" +
            s",in_progress=${j(r.body).get("in_progress").asBoolean()}"))
      script.zipWithIndex.map { case ((method, server, path, extract), i) =>
        method match {
          case "FAIL" =>
            server.setTxMigratorError(Some(path))
            (i + 1, method, "/v1/recovery/migrate_tx_manager", 200, "injected")
          case "HEAL" =>
            server.setTxMigratorError(None)
            (i + 1, method, "/v1/recovery/migrate_tx_manager", 200, "healed")
          case _ =>
            val resp = server.handle(method, path)
            (i + 1, method, path, resp.status, extract(resp))
        }
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_txn" -> ((s, dir) => {
      // The transaction admin surface (redpanda/admin/transaction.cc +
      // partition.cc get_transactions / mark_transaction_expired): the
      // enable_transactions gate and coordinator_partition_id ladder on
      // the listing, find_coordinator's id→coordinator mapping,
      // delete_partition's etag ladder, the per-partition active/expired
      // split (fed from the coordinator's transaction summaries), and
      // the mark-expired id/epoch ladder. A transactions-disabled twin
      // server pins the config gate on both gated routes.
      import s.implicits._
      import graft.admin.AdminApi
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      val txs = Seq(
        AdminApi.TxnSummary("tx-a", 7L, 0, 3L, "ongoing", 60000L,
          Seq(("kafka", "events", 0), ("kafka", "events", 1))),
        AdminApi.TxnSummary("tx-b", 9L, 2, 1L, "expired", 60000L,
          Seq(("kafka", "events", 0))))
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2),
        transactions = () => txs)
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      val off = new AdminApi.Server(nodeIds = Seq(0), transactionsEnabled = false)
      val script: Seq[(String, AdminApi.Server, String, AdminApi.Resp => String)] = Seq(
        ("GET", off, "/v1/transactions?coordinator_partition_id=0",
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", srv, "/v1/transactions",
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", srv, "/v1/transactions?coordinator_partition_id=x",
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", srv, "/v1/transactions?coordinator_partition_id=-2",
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", srv, "/v1/transactions?coordinator_partition_id=0", r => {
          val a = j(r.body)
          s"n=${a.size()};" + (0 until a.size()).map { i =>
            val t = a.get(i)
            s"${t.get("transactional_id").asText()}:${t.get("status").asText()}" +
              s":p${t.get("partitions").size()}"
          }.mkString(",")
        }),
        ("GET", srv, "/v1/transaction/tx-a/find_coordinator", r =>
          s"coordinator=${j(r.body).get("coordinator").asInt()}" +
            s",ntp=${j(r.body).get("ntp").get("ns").asText()}/" +
            s"${j(r.body).get("ntp").get("topic").asText()}/" +
            s"${j(r.body).get("ntp").get("partition").asInt()}" +
            s",ec=${j(r.body).get("ec").asInt()}"),
        ("POST", off, "/v1/transaction/tx-a/delete_partition?etag=3",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/transaction/tx-a/delete_partition?etag=x",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/transaction/tx-a/delete_partition?etag=-1",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/transaction/tx-a/delete_partition" +
          "?ns=kafka&topic=events&partition=1&etag=3", _ => "deleted"),
        ("GET", srv, "/v1/partitions/kafka/events/0/transactions", r => {
          val act = j(r.body).get("active_transactions")
          val exp = j(r.body).get("expired_transactions")
          s"active=${act.size()};pid=${act.get(0).get("producer_id").get("id").asLong()}" +
            s",timeout=${act.get(0).get("timeout_ms").asLong()}" +
            s";expired=${exp.size()};timeout=${exp.get(0).get("timeout_ms").asLong()}"
        }),
        ("GET", srv, "/v1/partitions/kafka/ghost/0/transactions",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/partitions/kafka/events/0/" +
          "mark_transaction_expired?id=x&epoch=0",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/partitions/kafka/events/0/" +
          "mark_transaction_expired?id=7&epoch=y",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/partitions/kafka/events/0/" +
          "mark_transaction_expired?id=7&epoch=0", _ => "marked"),
        ("POST", srv, "/v1/partitions/kafka/ghost/0/" +
          "mark_transaction_expired?id=7&epoch=0",
          r => "message=" + j(r.body).get("message").asText()))
      script.zipWithIndex.map { case ((method, server, path, extract), i) =>
        val resp = server.handle(method, path)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_cluster_ext" -> ((s, dir) => {
      // The remaining broker/partition/licensing admin surface:
      // broker_uuids + cluster_view (members version), per-node
      // cancel_partition_moves and the cluster-wide
      // cancel_reconfigurations (partition_result rows, assignments
      // restored), reset_crash_tracking, the majority-lost ladder +
      // report, force-recovery body validation, rebalance_cores, and
      // the license/enterprise pair — license PUT ladder (missing/
      // malformed/expired), loaded read-back, and the enterprise
      // violation flip when cloud storage is enabled without a license.
      import s.implicits._
      import graft.admin.AdminApi
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 1, leader = 1, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "audit", 0, leader = 2, replicas = Seq(2))
      val script: Seq[(String, String, Option[String], AdminApi.Resp => String)] = Seq(
        ("GET", "/v1/broker_uuids", None, r =>
          s"n=${j(r.body).size()};n0=${j(r.body).get(0).get("node_id").asInt()}" +
            s",uuid0=${j(r.body).get(0).get("uuid").asText()}"),
        ("GET", "/v1/cluster_view", None, r =>
          s"version=${j(r.body).get("version").asLong()}" +
            s",brokers=${j(r.body).get("brokers").size()}"),
        ("POST", "/v1/partitions/kafka/events/0/replicas",
          Some("""[{"node_id":0,"core":0},{"node_id":1,"core":0}]"""),
          _ => "moved"),
        ("POST", "/v1/brokers/abc/cancel_partition_moves", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", "/v1/brokers/2/cancel_partition_moves", None, r => {
          val a = j(r.body)
          s"n=${a.size()};${a.get(0).get("topic").asText()}/" +
            s"${a.get(0).get("partition").asInt()}=" +
            a.get(0).get("result").asText()
        }),
        ("GET", "/v1/partitions/kafka/events", None, r =>
          s"p0_replicas=${j(r.body).get(0).get("replicas").size()}"),
        ("POST", "/v1/partitions/kafka/events/1/replicas",
          Some("""[{"node_id":2,"core":0}]"""), _ => "moved"),
        ("POST", "/v1/cluster/cancel_reconfigurations", None, r =>
          s"n=${j(r.body).size()};result=${j(r.body).get(0).get("result").asText()}"),
        ("PUT", "/v1/reset_crash_tracking", None, _ => "reset"),
        ("GET", "/v1/partitions/majority_lost", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/partitions/majority_lost?dead_nodes=1,x", None,
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", "/v1/partitions/majority_lost?dead_nodes=1,2", None, r => {
          val a = j(r.body)
          s"n=${a.size()};" + (0 until a.size()).map { i =>
            val p = a.get(i).get("ntp")
            s"${p.get("topic").asText()}/${p.get("partition").asInt()}" +
              s":dead=${a.get(i).get("dead_nodes").size()}"
          }.mkString(",")
        }),
        ("POST", "/v1/partitions/force_recover_from_nodes",
          Some("""{"nodes":"all"}"""),
          r => "message=" + j(r.body).get("message").asText().takeWhile(_ != ':')),
        ("POST", "/v1/partitions/force_recover_from_nodes",
          Some("""{"dead_nodes":[1,2],"partitions_to_force_recover":[]}"""),
          _ => "accepted"),
        ("POST", "/v1/partitions/rebalance_cores", None, _ => "accepted"),
        ("GET", "/v1/features/license", None,
          r => "loaded=" + j(r.body).get("loaded").asBoolean()),
        ("PUT", "/v1/cluster_config", Some(
          """{"upsert":{"cloud_storage_enabled":true},"remove":[]}"""),
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("GET", "/v1/features/enterprise", None, r =>
          s"status=${j(r.body).get("license_status").asText()}" +
            s",violation=${j(r.body).get("violation").asBoolean()}" +
            s",features=${j(r.body).get("features").size()}"),
        ("PUT", "/v1/features/license", Some(""),
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/features/license", Some("not-a-license"),
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", "/v1/features/license", Some("acme:enterprise:1600000000"),
          r => "message=" + j(r.body).get("message").asText().takeWhile(_ != ':')),
        ("PUT", "/v1/features/license", Some("acme:enterprise:1800000000"),
          _ => "loaded"),
        ("GET", "/v1/features/license", None, r =>
          s"loaded=${j(r.body).get("loaded").asBoolean()}" +
            s",org=${j(r.body).get("license").get("org").asText()}" +
            s",type=${j(r.body).get("license").get("type").asText()}"),
        ("GET", "/v1/features/enterprise", None, r =>
          s"status=${j(r.body).get("license_status").asText()}" +
            s",violation=${j(r.body).get("violation").asBoolean()}"))
      script.zipWithIndex.map { case ((method, path, b, extract), i) =>
        val resp = srv.handle(method, path, b)
        (i + 1, method, path.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),

    "adm_rest_cloud_storage" -> ((s, dir) => {
      // The cloud-storage admin surface (register_shadow_indexing_
      // routes): recovery gates (recovery-mode refusal, missing-bucket
      // refusal, the 202 "Recovery initialized" / "recovery started"
      // accepts and the 409 already-active conflict), the per-partition
      // status + manifest routes fed by the TIERED-STORAGE ENGINE's
      // manifest, lifecycle markers with the revision ladder, manual
      // cache trim wired to the CACHE-TRIM ENGINE's LRU walk, the
      // anomalies report fed by the SCRUBBER ENGINE's findings, and the
      // sync/reset maintenance verbs.
      import s.implicits._
      import graft.admin.AdminApi
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def j(b: String) = m.readTree(b)
      // The two engine feeds are independent Spark pipelines that both end
      // in a driver collect — overlap them instead of running the archive
      // walk and the scrub sequentially before the script.
      val (manByPart, anomByPart) = graft.Overlap.both({
        // engine feed 1: tiered-storage manifest rows -> manifest JSON
        val localDir = cleanupOnExit(java.nio.file.Files
          .createTempDirectory("adm_cs_local")).toString
        val archDir = cleanupOnExit(java.nio.file.Files
          .createTempDirectory("adm_cs_arch")).toString
        graft.log.TieredStorage.archive(
          storedLog(s, dir).where(col("offset") < 200)
            .withColumn("ts", col("ts").cast("timestamp")),
          col("ts"), lit("2200-01-01").cast("timestamp"), localDir, archDir)
          .where(col("tier") === "archive")
          .collect().map { r =>
            val p = r.getInt(1)
            val o = m.createObjectNode()
            o.put("version", 1); o.put("namespace", "kafka")
            o.put("topic", "events"); o.put("partition", p)
            o.put("insync_offset", r.getLong(3))
            val seg = o.putArray("segments").addObject()
            seg.put("base_offset", r.getLong(2))
            seg.put("committed_offset", r.getLong(3))
            seg.put("size_bytes", 64L * r.getLong(4))
            p -> m.writeValueAsString(o)
          }.toMap
      }, {
        // engine feed 2: scrubber anomaly counters per partition
        graft.log.Scrubber.scrub(
            scrubManifestFx(s, dir).drop("c"),
            scrubObjectsFx(s, dir), scrubSpilloverFx(s))
          .groupBy("partition", "anomaly_type").count().collect()
          .groupBy(_.getInt(0)).map { case (p, rows) =>
            val by = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
            p -> Map(
              "revision_id" -> 1L,
              "last_complete_scrub_at" -> 1700000000000L,
              "missing_segments" -> by.getOrElse("missing_segment", 0L),
              "num_discarded_missing_spillover_manifests" ->
                by.getOrElse("missing_spillover_manifest", 0L),
              "num_discarded_metadata_anomalies" ->
                (by.values.sum - by.getOrElse("missing_segment", 0L) -
                  by.getOrElse("missing_spillover_manifest", 0L)))
          }
      })
      // engine feed 3: manual cache trim over the cache-file fixture
      var lastTrim = (0L, 0L)
      val srv = new AdminApi.Server(nodeIds = Seq(0, 1, 2),
        cloudManifest = (topic, p) =>
          if (topic == "events") manByPart.get(p) else None,
        cloudAnomalies = (ns, topic, p) =>
          if (ns == "kafka" && topic == "events") anomByPart.get(p) else None,
        cacheTrim = (bytes, objects) => {
          val dec = graft.log.CacheTrim.trim(cacheFiles(s, dir),
            maxBytes = bytes.getOrElse(120000L),
            maxObjects = objects.getOrElse(1000L))
            .where(col("action").startsWith("deleted"))
            .agg(coalesce(sum("size_bytes"), lit(0L)), count(lit(1)))
            .collect()(0)
          lastTrim = (dec.getLong(0), dec.getLong(1))
          lastTrim
        })
      srv.addPartition("kafka", "events", 0, leader = 0, replicas = Seq(0, 1, 2))
      srv.addPartition("kafka", "events", 1, leader = 1, replicas = Seq(0, 1, 2))
      srv.addLifecycleMarker("kafka", "old-topic", 41L)
      val recSrv = new AdminApi.Server(nodeIds = Seq(0), recoveryMode = true)
      val anomP = anomByPart.keys.min
      val script: Seq[(String, AdminApi.Server, String, AdminApi.Resp => String)] = Seq(
        ("POST", recSrv, "/v1/cloud_storage/automated_recovery",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/cloud_storage/automated_recovery",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/cloud_storage/topic_recovery",
          r => "message=" + j(r.body).get("message").asText()),
        ("PUT", srv, "/v1/cluster_config?b=" +
          """{"upsert":{"cloud_storage_enabled":true},"remove":[]}""",
          r => "config_version=" + j(r.body).get("config_version").asLong()),
        ("POST", srv, "/v1/cloud_storage/automated_recovery",
          r => "status=" + j(r.body).get("status").asText()),
        ("GET", srv, "/v1/cloud_storage/automated_recovery",
          r => "state=" + j(r.body).get("state").asText()),
        ("POST", srv, "/v1/cloud_storage/topic_recovery",
          r => "status=" + j(r.body).get("status").asText()),
        ("POST", srv, "/v1/cloud_storage/topic_recovery",
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", srv, "/v1/cloud_storage/topic_recovery", r =>
          s"state=${j(r.body).get("state").asText()}" +
            s",pattern=${j(r.body).get("request").get("topic_names_pattern").asText()}"),
        ("GET", srv, "/v1/cloud_storage/status/events/0", r =>
          s"mode=${j(r.body).get("cloud_storage_mode").asText()}" +
            s",segs=${j(r.body).get("cloud_log_segment_count").asInt()}" +
            s",bytes_match=${j(r.body).get("cloud_log_size_bytes").asLong() ==
              manByPart(0).length.toLong}"),
        ("GET", srv, "/v1/cloud_storage/status/ghost/0",
          r => "message=" + j(r.body).get("message").asText()),
        ("GET", srv, "/v1/cloud_storage/manifest/events/0", r =>
          s"ntp=${j(r.body).get("namespace").asText()}/" +
            s"${j(r.body).get("topic").asText()}/" +
            s"${j(r.body).get("partition").asInt()}" +
            s",segments=${j(r.body).get("segments").size()}" +
            s",base=${j(r.body).get("segments").get(0).get("base_offset").asLong()}"),
        ("GET", srv, "/v1/cloud_storage/lifecycle", r => {
          val a = j(r.body).get("markers")
          s"n=${a.size()};${a.get(0).get("topic").asText()}@" +
            s"${a.get(0).get("revision_id").asLong()}=" +
            a.get(0).get("status").asText()
        }),
        ("DELETE", srv, "/v1/cloud_storage/lifecycle/old-topic/x",
          r => "message=" + j(r.body).get("message").asText()),
        ("DELETE", srv, "/v1/cloud_storage/lifecycle/old-topic/41",
          _ => "purged"),
        ("GET", srv, "/v1/cloud_storage/lifecycle",
          r => s"n=${j(r.body).get("markers").size()}"),
        ("POST", srv, "/v1/cloud_storage/cache/trim?bytes=120000&objects=1000",
          _ => s"trimmed_bytes=${lastTrim._1},objects=${lastTrim._2}"),
        ("GET", srv, s"/v1/cloud_storage/anomalies/kafka/events/$anomP", r =>
          s"p=${j(r.body).get("partition").asInt()}" +
            s",missing_segments=${j(r.body).get("missing_segments").size()}" +
            s",meta=${Option(j(r.body).get("num_discarded_metadata_anomalies"))
              .map(_.asLong()).getOrElse(0L)}"),
        ("GET", srv, "/v1/cloud_storage/anomalies/kafka/ghost/0",
          r => "message=" + j(r.body).get("message").asText()),
        ("POST", srv, "/v1/cloud_storage/sync_local_state/events/0",
          _ => "synced"),
        ("POST", srv, "/v1/cloud_storage/unsafe_reset_metadata_from_cloud/" +
          "kafka/events/0", _ => "reset"),
        ("POST", srv, "/v1/cloud_storage/reset_scrubbing_metadata/" +
          "kafka/events/0", _ => "reset"),
        ("POST", srv, "/v1/cloud_storage/reset_scrubbing_metadata/" +
          "kafka/ghost/0",
          r => "message=" + j(r.body).get("message").asText()))
      script.zipWithIndex.map { case ((method, server, path, extract), i) =>
        // the cluster_config step tunnels its body through the ?b= query
        val (reqPath, body) =
          if (path.contains("?b=")) {
            val Array(p, b) = path.split("\\?b=", 2); (p, Some(b))
          } else (path, None)
        val resp = server.handle(method, reqPath, body)
        (i + 1, method, reqPath.split("\\?")(0), resp.status, extract(resp))
      }.toDF("step", "method", "path", "status", "detail").orderBy("step")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "adm_rest_api" ->
      """SELECT * FROM (VALUES
        |  (1, 'GET', '/v1/brokers', 200, 'n=3;b0=active,alive=true'),
        |  (2, 'PUT', '/v1/brokers/1/maintenance', 200, 'drained'),
        |  (3, 'GET', '/v1/brokers/1', 200, 'draining=true,partitions=2'),
        |  (4, 'DELETE', '/v1/brokers/1/maintenance', 200, 'restored'),
        |  (5, 'PUT', '/v1/brokers/2/decommission', 200, 'decommissioning'),
        |  (6, 'PUT', '/v1/brokers/2/decommission', 400, 'message=can not update broker 2 state, invalid state transition'),
        |  (7, 'PUT', '/v1/brokers/2/recommission', 200, 'recommissioned'),
        |  (8, 'PUT', '/v1/brokers/9/decommission', 404, 'message=broker with id 9 not found'),
        |  (9, 'GET', '/v1/cluster/health_overview', 200, 'healthy=true,nodes=3'),
        |  (10, 'GET', '/v1/cluster_config', 200, 'segment_size=134217728'),
        |  (11, 'PUT', '/v1/cluster_config', 200, 'config_version=2'),
        |  (12, 'PUT', '/v1/cluster_config', 400, 'nope_prop=Unknown property;rack=expected type boolean'),
        |  (13, 'PUT', '/v1/cluster_config', 200, 'config_version=2'),
        |  (14, 'GET', '/v1/cluster_config/status', 200, 'n=3;v=2'),
        |  (15, 'GET', '/v1/cluster_config/schema', 200, 'type=boolean,needs_restart=true'),
        |  (16, 'GET', '/v1/features', 200, 'cluster_version=13,n=3'),
        |  (17, 'PUT', '/v1/features/datalake_iceberg', 200, 'activated'),
        |  (18, 'GET', '/v1/partitions/kafka/events/1', 200, 'leader=1,replicas=3'),
        |  (19, 'POST', '/v1/partitions/kafka/events/1/transfer_leadership', 200, 'transferred'),
        |  (20, 'POST', '/v1/partitions/kafka/audit/0/transfer_leadership', 400, 'message=Node 1 is not a replica of the partition'),
        |  (21, 'POST', '/v1/debug/self_test/start', 200, 'id=000001'),
        |  (22, 'GET', '/v1/debug/self_test/status', 200, 'status=running,stage=disk'),
        |  (23, 'POST', '/v1/debug/self_test/stop', 200, 'stopped'),
        |  (24, 'GET', '/v1/debug/self_test/status', 200, 'status=idle,results=2,p99=400'),
        |  (25, 'POST', '/v1/debug_bundle', 200, 'job=000001'),
        |  (26, 'POST', '/v1/debug_bundle', 409, 'code=409'),
        |  (27, 'DELETE', '/v1/debug_bundle/10000000-0000-4000-8000-000000000001', 204, 'cancelled'),
        |  (28, 'GET', '/v1/debug_bundle/10000000-0000-4000-8000-000000000001', 200, 'status=error'),
        |  (29, 'GET', '/v1/cluster/uuid', 200, 'uuid=1'),
        |  (30, 'GET', '/v1/transactions', 200, 'n=3;tx-10:Ongoing:p2,tx-11:CompleteCommit:p1,tx-12:CompleteAbort:p1'),
        |  (31, 'GET', '/v1/usage', 400, 'message=Usage tracking is not enabled'),
        |  (32, 'PUT', '/v1/cluster_config', 200, 'config_version=3'),
        |  (33, 'GET', '/v1/usage', 200, 'windows=1;300@false'),
        |  (34, 'GET', '/v1/usage', 200, 'windows=2;300@false:end=1700002800,500@true:end=1700009999,gauge=-1'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the admin security surface (security.cc user CRUD
    // wording incl. the "smissing" typo, role_errc codes, diffs).

    "adm_rest_security" ->
      """SELECT * FROM (VALUES
        |  (1, 'POST', '/v1/security/users', 200, 'created'),
        |  (2, 'POST', '/v1/security/users', 200, 'idempotent'),
        |  (3, 'POST', '/v1/security/users', 500, 'message=Unexpected cluster error: User already exists'),
        |  (4, 'POST', '/v1/security/users', 400, 'message=Unknown scram algorithm: SCRAM-MD5'),
        |  (5, 'POST', '/v1/security/users', 400, 'message=String username missing'),
        |  (6, 'POST', '/v1/security/users', 200, 'created'),
        |  (7, 'GET', '/v1/security/users', 200, 'n=2;alice,bob'),
        |  (8, 'PUT', '/v1/security/users/alice', 200, 'updated'),
        |  (9, 'PUT', '/v1/security/users/nobody', 500, 'message=Unexpected cluster error: User does not exist'),
        |  (10, 'DELETE', '/v1/security/users/bob', 200, 'deleted'),
        |  (11, 'DELETE', '/v1/security/users/bob', 200, 'idempotent'),
        |  (12, 'POST', '/v1/security/roles', 201, 'role=ops'),
        |  (13, 'POST', '/v1/security/roles', 201, 'idempotent'),
        |  (14, 'POST', '/v1/security/roles', 400, 'code=40001'),
        |  (15, 'POST', '/v1/security/roles', 400, 'code=40002,message=Invalid role name'),
        |  (16, 'POST', '/v1/security/roles/ops/members', 200, 'added=2,removed=0,created=false'),
        |  (17, 'POST', '/v1/security/roles/ops/members', 200, 'added=0'),
        |  (18, 'POST', '/v1/security/roles/ops/members', 400, 'code=40004'),
        |  (19, 'POST', '/v1/security/roles/ops/members', 400, 'code=40001'),
        |  (20, 'POST', '/v1/security/roles/new1/members', 404, 'code=40401'),
        |  (21, 'POST', '/v1/security/roles/new1/members', 200, 'created=true'),
        |  (22, 'GET', '/v1/security/roles', 200, 'roles=2'),
        |  (23, 'GET', '/v1/security/roles', 200, 'roles=1,first=new1'),
        |  (24, 'GET', '/v1/security/roles', 400, 'code=40001'),
        |  (25, 'GET', '/v1/security/roles/ops', 200, 'name=ops,members=2,t0=User'),
        |  (26, 'GET', '/v1/security/roles/nope', 404, 'code=40401,message=Role not found'),
        |  (27, 'DELETE', '/v1/security/roles/ops', 204, 'deleted'),
        |  (28, 'GET', '/v1/security/roles/ops', 404, 'code=40401'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the wasm-transform admin surface (transform.cc:
    // enable gate wording, deploy ladder, metadata shape, offsets+GC).

    "adm_rest_transform" ->
      """SELECT * FROM (VALUES
        |  (1, 'GET', '/v1/transform', 400, 'message=data transforms disabled - use `rpk cluster config set data_transforms_enabled true` to enable'),
        |  (2, 'PUT', '/v1/cluster_config', 200, 'config_version=2'),
        |  (3, 'POST', '/v1/transform/deploy', 200, 'deployed'),
        |  (4, 'POST', '/v1/transform/deploy', 400, 'message=invalid JSON request body'),
        |  (5, 'POST', '/v1/transform/deploy', 400, 'message=Bad offset: expected value >= 0, got -3'),
        |  (6, 'GET', '/v1/transform', 200, 'n=1;mirror:events->events_out,parts=2,comp=lz4,st=running'),
        |  (7, 'PUT', '/v1/transform/mirror/meta', 200, 'paused'),
        |  (8, 'GET', '/v1/transform', 200, 'st=inactive'),
        |  (9, 'PUT', '/v1/transform/ghost/meta', 200, 'noop'),
        |  (10, 'PUT', '/v1/transform/ghost/meta', 400, 'message=Transform does not exist'),
        |  (11, 'GET', '/v1/transform/debug/committed_offsets', 200, 'n=2;mirror:0@41,mirror:1@7'),
        |  (12, 'DELETE', '/v1/transform/mirror', 200, 'deleted'),
        |  (13, 'DELETE', '/v1/transform/mirror', 400, 'message=Transform does not exist'),
        |  (14, 'GET', '/v1/transform/debug/committed_offsets', 200, 'n=0'),
        |  (15, 'GET', '/v1/transform/debug/committed_offsets', 200, 'n=2'),
        |  (16, 'POST', '/v1/transform/debug/committed_offsets/garbage_collect', 200, 'swept'),
        |  (17, 'GET', '/v1/transform/debug/committed_offsets', 200, 'n=0'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the partition admin surface (partition.cc replica
    // moves: validate_set_replicas ladder, reconfigurations, cancel).

    "adm_rest_partitions" ->
      """SELECT * FROM (VALUES
        |  (1, 'POST', '/v1/partitions/redpanda/controller/0/replicas', 400, 'message=Can''t reconfigure a controller'),
        |  (2, 'POST', '/v1/partitions/kafka/events/0/replicas', 400, 'message=Replica set refers to non-existent node/shard (node 9 shard 0)'),
        |  (3, 'POST', '/v1/partitions/kafka/events/0/replicas', 400, 'message=`node_id` and `core` must be integers'),
        |  (4, 'POST', '/v1/partitions/kafka/events/0/replicas', 200, 'noop'),
        |  (5, 'POST', '/v1/partitions/kafka/events/0/replicas', 200, 'moved'),
        |  (6, 'GET', '/v1/partitions/reconfigurations', 200, 'n=1;prev=3,cur=2,policy=full_local_retention'),
        |  (7, 'GET', '/v1/partitions/kafka/events', 200, 'n=2;p0=in_progress:2,p1=done:3'),
        |  (8, 'GET', '/v1/partitions/local_summary', 200, 'count=3,leaderless=0,under_replicated=1'),
        |  (9, 'POST', '/v1/partitions/kafka/events/0/cancel_reconfiguration', 200, 'cancelled'),
        |  (10, 'GET', '/v1/partitions/kafka/events', 200, 'p0_replicas=3'),
        |  (11, 'POST', '/v1/partitions/kafka/events/0/cancel_reconfiguration', 400, 'message=Cannot cancel partition move operation as there is no move in progress'),
        |  (12, 'POST', '/v1/partitions/kafka/events/1/replicas', 200, 'moved'),
        |  (13, 'FINISH', '/v1/partitions/kafka/events/1', 200, 'finished'),
        |  (14, 'GET', '/v1/partitions/reconfigurations', 200, 'n=0'),
        |  (15, 'GET', '/v1/partitions/kafka/events', 200, 'p1_replicas=1'),
        |  (16, 'POST', '/v1/partitions/rebalance', 200, 'accepted'),
        |  (17, 'GET', '/v1/partitions/kafka/nope', 404, 'message=Could not find topic: kafka/nope'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the data-migration admin surface (migrations.cc
    // FSM ladder, topics.cc mount/unmount, engine-backed mountable).

    "adm_rest_migrations" ->
      """SELECT * FROM (VALUES
        |  (1, 'PUT', '/v1/migrations', 400, 'message=Data migrations are disabled for this cluster'),
        |  (2, 'PUT', '/v1/cluster_config', 200, 'config_version=2'),
        |  (3, 'PUT', '/v1/migrations', 400, 'message=JSON request body does not conform to schema'),
        |  (4, 'PUT', '/v1/migrations', 200, 'id=1'),
        |  (5, 'GET', '/v1/migrations/1', 200, 'state=planned,type=outbound,topics=1,groups=1,auto=false'),
        |  (6, 'POST', '/v1/migrations/1', 400, 'message=Invalid data migration state transition requested'),
        |  (7, 'POST', '/v1/migrations/1', 200, 'accepted'),
        |  (8, 'ADVANCE', '/v1/migrations/1', 200, 'advanced'),
        |  (9, 'GET', '/v1/migrations/1', 200, 'state=prepared'),
        |  (10, 'POST', '/v1/migrations/1', 200, 'accepted'),
        |  (11, 'ADVANCE', '/v1/migrations/1', 200, 'advanced'),
        |  (12, 'POST', '/v1/migrations/1', 200, 'accepted'),
        |  (13, 'DELETE', '/v1/migrations/1', 400, 'message=Invalid data migration state transition requested'),
        |  (14, 'ADVANCE', '/v1/migrations/1', 200, 'advanced'),
        |  (15, 'GET', '/v1/migrations/1', 200, 'state=finished,completed=true'),
        |  (16, 'DELETE', '/v1/migrations/1', 200, 'deleted'),
        |  (17, 'GET', '/v1/migrations/1', 404, 'message=Data migration does not exist: Requested data migration does not exist'),
        |  (18, 'GET', '/v1/topics/mountable', 200, 'n=1;events@events/00000000-0000-4000-8000-000000000001/8'),
        |  (19, 'POST', '/v1/topics/mount', 200, 'id=2'),
        |  (20, 'GET', '/v1/migrations/2', 200, 'type=inbound,auto=true,src=orders,alias=orders2'),
        |  (21, 'POST', '/v1/topics/unmount', 200, 'id=3'),
        |  (22, 'POST', '/v1/migrations/3', 200, 'accepted'),
        |  (23, 'POST', '/v1/migrations/3', 200, 'accepted'),
        |  (24, 'ADVANCE', '/v1/migrations/3', 200, 'advanced'),
        |  (25, 'GET', '/v1/migrations/3', 200, 'state=cancelled'),
        |  (26, 'GET', '/v1/migrations', 200, 'n=2'),
        |  (27, 'POST', '/v1/migrations/2', 400, 'message=unknown data migration action: jump'),
        |  (28, 'GET', '/v1/migrations/zap', 400, 'message=bad lexical cast: source type value could not be interpreted as target'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the debug diagnostics surface (debug.cc route
    // grammar, validation-ladder wording, txn translator kafka(3)=1,
    // rp(2)=4). The engine-backed fields {start}, {hwm}, {bytes} and
    // {index} are derived from the entry's input: the stored log's
    // partition-0 slice with offset < 200.

    "adm_rest_debug" ->
      s"""$LogCte,
        | st AS (
        |  SELECT CAST(min("offset") AS VARCHAR) AS start_off,
        |    CAST(max("offset") + 1 AS VARCHAR) AS hwm,
        |    CAST(sum(length(props)) AS VARCHAR) AS bytes,
        |    CAST(16 * count(*) AS VARCHAR) AS idx
        |  FROM log WHERE partition = 0 AND "offset" < 200),
        | script AS (SELECT * FROM (VALUES
        |  (1, 'GET', '/v1/debug/partition_leaders_table', 200, 'n=2;p0=0,prev=-1'),
        |  (2, 'POST', '/v1/partitions/kafka/events/0/transfer_leadership', 200, 'transferred'),
        |  (3, 'GET', '/v1/debug/partition_leaders_table', 200, 'p0=1,prev=0,term=2'),
        |  (4, 'POST', '/v1/debug/reset_leaders', 200, 'reset'),
        |  (5, 'GET', '/v1/debug/partition_leaders_table', 200, 'prev=-1'),
        |  (6, 'PUT', '/v1/debug/stress_fiber_start', 400, 'message=Expected ''max_spins_per_scheduling_point'' set with ''min_spins_per_scheduling_point'''),
        |  (7, 'PUT', '/v1/debug/stress_fiber_start', 400, 'message=Expected either spins or delay to be defined'),
        |  (8, 'PUT', '/v1/debug/stress_fiber_start', 400, 'message=Invalid parameter ''max_spins_per_scheduling_point'' value is too low: 2 < 5'),
        |  (9, 'PUT', '/v1/debug/stress_fiber_start', 400, 'message=Invalid parameter ''num_fibers'' value {x}'),
        |  (10, 'PUT', '/v1/debug/stress_fiber_start', 200, 'started'),
        |  (11, 'PUT', '/v1/debug/stress_fiber_stop', 200, 'stopped'),
        |  (12, 'GET', '/v1/debug/peer_status/abc', 400, 'message=Broker id: abc, must be an integer'),
        |  (13, 'GET', '/v1/debug/peer_status/9', 400, 'message=Unknown node with id 9'),
        |  (14, 'GET', '/v1/debug/peer_status/1', 200, 'since=101'),
        |  (15, 'GET', '/v1/debug/is_node_isolated', 200, 'isolated=false'),
        |  (16, 'GET', '/v1/debug/controller_status', 200, 'applied=1,start=0'),
        |  (17, 'GET', '/v1/debug/cloud_storage_usage', 400, 'message=batch_size must be an integer: x'),
        |  (18, 'GET', '/v1/debug/cloud_storage_usage', 200, 'bytes={bytes}'),
        |  (19, 'PUT', '/v1/debug/blocked_reactor_notify_ms', 400, 'message=Invalid parameter ''timeout'' value {abc}'),
        |  (20, 'PUT', '/v1/debug/blocked_reactor_notify_ms', 200, 'set'),
        |  (21, 'GET', '/v1/debug/sampled_memory_profile', 400, 'message=Shard id too high, max shard id is 1'),
        |  (22, 'GET', '/v1/debug/sampled_memory_profile', 200, 'n=1;shard=1,sites=1'),
        |  (23, 'GET', '/v1/debug/cpu_profile', 400, 'message=wait_ms must be between 1ms and 15min'),
        |  (24, 'GET', '/v1/debug/cpu_profile', 200, 'n=1;occ=10'),
        |  (25, 'PUT', '/v1/debug/restart_service', 404, 'message=Invalid service: foo'),
        |  (26, 'PUT', '/v1/debug/restart_service', 200, 'restarted'),
        |  (27, 'GET', '/v1/debug/partition/kafka/events/0', 200, 'ntp={kafka/events/0},replicas=3,start={start},hwm={hwm},leader=false,stm=rm_stm'),
        |  (28, 'GET', '/v1/debug/partition/kafka/ghost/0', 500, 'message=Error cluster::errc:16 processing partition state for ntp: {kafka/ghost/0}'),
        |  (29, 'PUT', '/v1/debug/set_storage_failure_injection_enabled', 400, 'message=Invalid parameter ''value'' {yes}. Should be ''true'' or ''false'''),
        |  (30, 'PUT', '/v1/debug/set_storage_failure_injection_enabled', 200, 'enabled'),
        |  (31, 'GET', '/v1/debug/local_storage_usage', 200, 'data={bytes},index={index},cache=0'),
        |  (32, 'GET', '/v1/debug/storage/disk_stat/ssd', 400, 'message=Unknown disk type: ssd'),
        |  (33, 'GET', '/v1/debug/storage/disk_stat/data', 200, 'total=1099511627776,free=805306368000'),
        |  (34, 'PUT', '/v1/debug/storage/disk_stat/data', 200, 'overridden'),
        |  (35, 'PUT', '/v1/debug/storage/disk_stat/data', 400, 'message=JSON request body does not conform to schema'),
        |  (36, 'GET', '/v1/debug/storage/disk_stat/data', 200, 'free=1000'),
        |  (37, 'GET', '/v1/debug/storage/offset_translator/kafka/events/0', 400, 'message=''translate_to'' parameter must be one of either kafka or redpanda'),
        |  (38, 'GET', '/v1/debug/storage/offset_translator/kafka/ghost/0', 404, 'message=ntp {kafka/ghost/0} could not be found on the node'),
        |  (39, 'GET', '/v1/debug/storage/offset_translator/kafka/events/0', 400, 'message=Request body must be JSON array of integers'),
        |  (40, 'GET', '/v1/debug/storage/offset_translator/kafka/events/0', 200, 'kafka=1,rp=3,engine=true'),
        |  (41, 'GET', '/v1/debug/storage/offset_translator/kafka/events/0', 200, 'kafka=2,rp=4,engine=true'),
        |  (42, 'GET', '/v1/debug/storage/offset_translator/kafka/events/0', 400, 'message=Offset provided 99999 was out of offset translator range'),
        |  (43, 'GET', '/v1/debug/broker_uuid', 200, 'uuid=11111111-1111-4111-8111-000000000001,id=0'),
        |  (44, 'PUT', '/v1/debug/broker_uuid', 400, 'message=Requested current node UUID: 11111111-1111-4111-8111-000000000001 does not match node UUID: 99999999-9999-4999-8999-999999999999'),
        |  (45, 'PUT', '/v1/debug/broker_uuid', 400, 'message=node_id must not be negative'),
        |  (46, 'PUT', '/v1/debug/broker_uuid', 200, 'overridden'),
        |  (47, 'GET', '/v1/debug/broker_uuid', 200, 'uuid=22222222-2222-4222-8222-000000000002,id=7'))
        | t(step, method, path, status, detail))
        |SELECT step, method, path, status,
        |  replace(replace(replace(replace(detail, '{start}', start_off), '{hwm}', hwm),
        |    '{bytes}', bytes), '{index}', idx) AS detail
        |FROM script, st ORDER BY step""".stripMargin,

    // Golden pin of the recovery-mode pair (recovery.cc): 404 outside
    // recovery mode, status flip across a successful migrate, the 503
    // "Migration error" arm on an injected migrator failure.

    "adm_rest_recovery" ->
      """SELECT * FROM (VALUES
        |  (1, 'GET', '/v1/recovery/migrate_tx_manager', 404, 'code=404'),
        |  (2, 'GET', '/v1/recovery/migrate_tx_manager', 200, 'required=true,in_progress=false'),
        |  (3, 'FAIL', '/v1/recovery/migrate_tx_manager', 200, 'injected'),
        |  (4, 'POST', '/v1/recovery/migrate_tx_manager', 503, 'message=Migration error: stuck controller'),
        |  (5, 'HEAL', '/v1/recovery/migrate_tx_manager', 200, 'healed'),
        |  (6, 'POST', '/v1/recovery/migrate_tx_manager', 200, 'migrated'),
        |  (7, 'GET', '/v1/recovery/migrate_tx_manager', 200, 'required=false,in_progress=false'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the transaction admin surface (transaction.cc
    // ladders + partition.cc per-partition listing / mark-expired).

    "adm_rest_txn" ->
      """SELECT * FROM (VALUES
        |  (1, 'GET', '/v1/transactions', 400, 'message=Transaction are disabled'),
        |  (2, 'GET', '/v1/transactions', 400, 'message=Partition must be an integer: '),
        |  (3, 'GET', '/v1/transactions', 400, 'message=Partition must be an integer: x'),
        |  (4, 'GET', '/v1/transactions', 400, 'message=Invalid coordinator partition -2'),
        |  (5, 'GET', '/v1/transactions', 200, 'n=2;tx-a:ongoing:p2,tx-b:expired:p1'),
        |  (6, 'GET', '/v1/transaction/tx-a/find_coordinator', 200, 'coordinator=0,ntp=kafka_internal/tx/0,ec=0'),
        |  (7, 'POST', '/v1/transaction/tx-a/delete_partition', 400, 'message=Transaction are disabled'),
        |  (8, 'POST', '/v1/transaction/tx-a/delete_partition', 400, 'message=Etag must be an integer: x'),
        |  (9, 'POST', '/v1/transaction/tx-a/delete_partition', 400, 'message=Invalid etag -1'),
        |  (10, 'POST', '/v1/transaction/tx-a/delete_partition', 200, 'deleted'),
        |  (11, 'GET', '/v1/partitions/kafka/events/0/transactions', 200, 'active=1;pid=7,timeout=60000;expired=1;timeout=-1'),
        |  (12, 'GET', '/v1/partitions/kafka/ghost/0/transactions', 404, 'message=Could not find ntp: {kafka/ghost/0}'),
        |  (13, 'POST', '/v1/partitions/kafka/events/0/mark_transaction_expired', 400, 'message=Invalid producer id: x'),
        |  (14, 'POST', '/v1/partitions/kafka/events/0/mark_transaction_expired', 400, 'message=Invalid producer epoch: y'),
        |  (15, 'POST', '/v1/partitions/kafka/events/0/mark_transaction_expired', 200, 'marked'),
        |  (16, 'POST', '/v1/partitions/kafka/ghost/0/mark_transaction_expired', 500, 'message=Can not find partition {ghost/0}'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the broker/partition/licensing extras: members
    // view, move cancellation, majority-lost ladder, license ladder
    // enterprise violation flip.

    "adm_rest_cluster_ext" ->
      """SELECT * FROM (VALUES
        |  (1, 'GET', '/v1/broker_uuids', 200, 'n=3;n0=0,uuid0=11111111-1111-4111-8111-000000000001'),
        |  (2, 'GET', '/v1/cluster_view', 200, 'version=3,brokers=3'),
        |  (3, 'POST', '/v1/partitions/kafka/events/0/replicas', 200, 'moved'),
        |  (4, 'POST', '/v1/brokers/abc/cancel_partition_moves', 400, 'message=Broker id: abc, must be an integer'),
        |  (5, 'POST', '/v1/brokers/2/cancel_partition_moves', 200, 'n=1;events/0=Success'),
        |  (6, 'GET', '/v1/partitions/kafka/events', 200, 'p0_replicas=3'),
        |  (7, 'POST', '/v1/partitions/kafka/events/1/replicas', 200, 'moved'),
        |  (8, 'POST', '/v1/cluster/cancel_reconfigurations', 200, 'n=1;result=Success'),
        |  (9, 'PUT', '/v1/reset_crash_tracking', 200, 'reset'),
        |  (10, 'GET', '/v1/partitions/majority_lost', 400, 'message=Query parameter dead_nodes not set, expecting a csv of integers (broker_ids)'),
        |  (11, 'GET', '/v1/partitions/majority_lost', 400, 'message=Token x doesn''t parse to an integer in input: 1,x, expecting a csv of integer broker_ids'),
        |  (12, 'GET', '/v1/partitions/majority_lost', 200, 'n=3;events/0:dead=2,events/1:dead=2,audit/0:dead=1'),
        |  (13, 'POST', '/v1/partitions/force_recover_from_nodes', 400, 'message=JSON request body does not conform to schema'),
        |  (14, 'POST', '/v1/partitions/force_recover_from_nodes', 200, 'accepted'),
        |  (15, 'POST', '/v1/partitions/rebalance_cores', 200, 'accepted'),
        |  (16, 'GET', '/v1/features/license', 200, 'loaded=false'),
        |  (17, 'PUT', '/v1/cluster_config', 200, 'config_version=2'),
        |  (18, 'GET', '/v1/features/enterprise', 200, 'status=not_present,violation=true,features=11'),
        |  (19, 'PUT', '/v1/features/license', 400, 'message=Missing redpanda license from request body'),
        |  (20, 'PUT', '/v1/features/license', 400, 'message=License is malformed: not-a-license'),
        |  (21, 'PUT', '/v1/features/license', 400, 'message=License is expired'),
        |  (22, 'PUT', '/v1/features/license', 200, 'loaded'),
        |  (23, 'GET', '/v1/features/license', 200, 'loaded=true,org=acme,type=enterprise'),
        |  (24, 'GET', '/v1/features/enterprise', 200, 'status=valid,violation=false'))
        | t(step, method, path, status, detail) ORDER BY step""".stripMargin,

    // Golden pin of the cloud-storage admin surface (shadow-indexing
    // routes; manifest/status from the tiered-storage engine). The
    // trim figures {trimmed_bytes} and {trimmed_objects} replay the
    // cache-trim walk over the entry's cache-file table; the anomaly
    // report's {p}, {missing} and {meta} come from the scrubber's
    // findings on the lowest partition that has any.

    "adm_rest_cloud_storage" ->
      s"""${LogCte.replace("WITH log", "WITH RECURSIVE log")},$CacheTrimCte,${scrubCte(1000000000)},
        | trimmed AS (
        |  SELECT CAST(coalesce(sum(size_bytes), 0) AS VARCHAR) AS tb,
        |    CAST(count(*) AS VARCHAR) AS tn
        |  FROM trim_actions WHERE action LIKE 'deleted%'),
        | anom AS (
        |  SELECT CAST(partition AS VARCHAR) AS p,
        |    CAST(count(*) FILTER (WHERE anomaly_type = 'missing_segment') AS VARCHAR) AS ms,
        |    CAST(count(*) FILTER (WHERE anomaly_type NOT IN
        |      ('missing_segment', 'missing_spillover_manifest')) AS VARCHAR) AS meta
        |  FROM sanoms WHERE partition = (SELECT min(partition) FROM sanoms)
        |  GROUP BY partition),
        | script AS (SELECT * FROM (VALUES
        |  (1, 'POST', '/v1/cloud_storage/automated_recovery', 400, 'message=Cluster restore is not available, recovery mode enabled'),
        |  (2, 'POST', '/v1/cloud_storage/automated_recovery', 400, 'message=Cluster recovery is not available. Missing bucket property'),
        |  (3, 'POST', '/v1/cloud_storage/topic_recovery', 400, 'message=Topic recovery is not available. is cloud storage enabled?'),
        |  (4, 'PUT', '/v1/cluster_config', 200, 'config_version=2'),
        |  (5, 'POST', '/v1/cloud_storage/automated_recovery', 202, 'status=Recovery initialized'),
        |  (6, 'GET', '/v1/cloud_storage/automated_recovery', 200, 'state=recovery_stage::initialized'),
        |  (7, 'POST', '/v1/cloud_storage/topic_recovery', 202, 'status=recovery started'),
        |  (8, 'POST', '/v1/cloud_storage/topic_recovery', 409, 'message=A recovery is already active'),
        |  (9, 'GET', '/v1/cloud_storage/topic_recovery', 200, 'state=recovering,pattern=none'),
        |  (10, 'GET', '/v1/cloud_storage/status/events/0', 200, 'mode=full,segs=1,bytes_match=true'),
        |  (11, 'GET', '/v1/cloud_storage/status/ghost/0', 404, 'message=Could not find {kafka/ghost/0} on the cluster'),
        |  (12, 'GET', '/v1/cloud_storage/manifest/events/0', 200, 'ntp=kafka/events/0,segments=1,base=0'),
        |  (13, 'GET', '/v1/cloud_storage/lifecycle', 200, 'n=1;old-topic@41=purging'),
        |  (14, 'DELETE', '/v1/cloud_storage/lifecycle/old-topic/x', 400, 'message=Revision id must be an integer: x'),
        |  (15, 'DELETE', '/v1/cloud_storage/lifecycle/old-topic/41', 200, 'purged'),
        |  (16, 'GET', '/v1/cloud_storage/lifecycle', 200, 'n=0'),
        |  (17, 'POST', '/v1/cloud_storage/cache/trim', 200, 'trimmed_bytes={trimmed_bytes},objects={trimmed_objects}'),
        |  (18, 'GET', '/v1/cloud_storage/anomalies/kafka/events/{p}', 200, 'p={p},missing_segments={missing},meta={meta}'),
        |  (19, 'GET', '/v1/cloud_storage/anomalies/kafka/ghost/0', 404, 'message=topic {ghost} not found'),
        |  (20, 'POST', '/v1/cloud_storage/sync_local_state/events/0', 200, 'synced'),
        |  (21, 'POST', '/v1/cloud_storage/unsafe_reset_metadata_from_cloud/kafka/events/0', 200, 'reset'),
        |  (22, 'POST', '/v1/cloud_storage/reset_scrubbing_metadata/kafka/events/0', 200, 'reset'),
        |  (23, 'POST', '/v1/cloud_storage/reset_scrubbing_metadata/kafka/ghost/0', 404, 'message={kafka/ghost/0} could not be found on shard 0.'))
        | t(step, method, path, status, detail))
        |SELECT step, method, replace(path, '{p}', p) AS path, status,
        |  replace(replace(replace(replace(replace(detail, '{p}', p), '{missing}', ms),
        |    '{meta}', meta), '{trimmed_bytes}', tb), '{trimmed_objects}', tn) AS detail
        |FROM script, trimmed, anom ORDER BY step""".stripMargin,

    // Golden pin of the REST protocol script (routes, status codes
    // reference error ladder, global-id sharing, delete semantics).
  )
}
