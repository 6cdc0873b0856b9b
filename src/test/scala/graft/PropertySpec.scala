package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.{Murmur2, VectorKernels}
import graft.groups.GroupFsm
import graft.log.{Compaction, RecordLog}

/** Seeded randomized property checks over operator invariants — the
  * edge-case net around the example-based specs. Seeds are fixed so
  * every run replays the same corpus. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("offset assignment: dense per partition, arrival-ordered, scalable variant identical") {
    val rnd = new Random(42)
    for (_ <- 1 to 3) {
      val n = 200 + rnd.nextInt(200)
      val parts = 1 + rnd.nextInt(5)
      val arrivals = rnd.shuffle((0 until n).toList)
      val rows = arrivals.map(a => (rnd.nextInt(parts), a.toLong))
      val df = rows.toDF("p", "arrival")
      val log = RecordLog.assignOffsets(df, col("p"), col("arrival"))
        .select("partition", "arrival", "offset")
        .as[(Int, Long, Long)].collect()
      // dense 0..k-1 per partition
      log.groupBy(_._1).foreach { case (_, rs) =>
        assert(rs.map(_._3).sorted.toSeq === rs.indices.map(_.toLong))
        // arrival order == offset order
        assert(rs.sortBy(_._3).map(_._2).toSeq === rs.map(_._2).sorted.toSeq)
      }
      val scalable = RecordLog.assignOffsetsScalable(df, col("p"), col("arrival"),
          chunkCol = floor(col("arrival") / (1 + rnd.nextInt(50))))
        .select("partition", "arrival", "offset")
        .as[(Int, Long, Long)].collect().toSet
      assert(scalable === log.toSet)
    }
  }

  test("wire ingest equals a per-batch codec model: codecs, rejects, gapped deltas, shuffled arrivals") {
    import graft.functions.RecordBatchCodec
    import graft.functions.RecordBatchCodec.Rec
    val rnd = new Random(2024)
    for (_ <- 1 to 3) {
      // (partition, arrival, wire); partition 3 carries only rejected batches
      val wires = (0 until 4).flatMap { p =>
        rnd.shuffle((0 until 9).toList).take(6 + rnd.nextInt(3)).map(_ * 10L + rnd.nextInt(10))
          .zipWithIndex.map { case (arr, b) =>
            val n = if (b == 2) 0 else 1 + rnd.nextInt(6) // one batch of 0 records
            val step = 1 + rnd.nextInt(3) // > 1: gapped deltas, shuffled in the batch
            val deltas = rnd.shuffle((0 until n).map(_ * step).toList)
            val recs = deltas.map(d => Rec(d, d.toLong, s"k$p-$arr-$d".getBytes("UTF-8"),
              s"v${rnd.nextInt(1000)}".getBytes("UTF-8"), Nil))
            val w = RecordBatchCodec.encode(0L, 0, 0.toShort, 0L, 0L, -1L, 0.toShort, 0,
              recs, codec = rnd.nextInt(5)) // none, gzip, snappy, lz4, zstd
            val fate = if (p == 3) 1 + b % 3 else rnd.nextInt(8)
            val bad = fate match {
              case 1 => // one flipped byte in the CRC-covered header fields
                val i = RecordBatchCodec.CrcDataStart + rnd.nextInt(40)
                w.updated(i, (w(i) ^ 0x40).toByte)
              case 2 => w.take(40)                           // short of the header
              case 3 => w.take(RecordBatchCodec.HeaderSize + 1) // header parses, CRC fails
              case _ => w
            }
            (p, arr, bad)
          }
      }
      // the model: size gate, CRC gate, then base + rank of offset_delta
      val model = wires.groupBy(_._1).toSeq.flatMap { case (p, bs) =>
        var base = 0L
        bs.sortBy(_._2).flatMap { case (_, arr, w) =>
          if (w.length < RecordBatchCodec.HeaderSize || !RecordBatchCodec.crcValid(w))
            Seq((if (w.length < RecordBatchCodec.HeaderSize) "malformed" else "crc_reject",
              p, -1L, arr.toString, null: String))
          else {
            val recs = RecordBatchCodec.decodeRecords(RecordBatchCodec.recordsRegion(w),
              RecordBatchCodec.decodeHeader(w).recordCount).sortBy(_.offsetDelta)
            val out = recs.zipWithIndex.map { case (r, i) =>
              ("accept", p, base + i, new String(r.key, "UTF-8"), new String(r.value, "UTF-8"))
            }
            base += recs.size
            out
          }
        }
      }
      assert(model.exists(_._1 == "malformed") && model.exists(_._1 == "crc_reject"))
      val got = RecordLog.wireIngest(rnd.shuffle(wires).toDF("partition", "arrival", "wire")
          .repartition(3), col("wire"), col("partition"), col("arrival"))
        .select(col("route"), col("partition"), col("offset"),
          col("key").cast("string"), col("value").cast("string"))
        .as[(String, Int, Long, String, String)].collect()
      val order = (r: (String, Int, Long, String, String)) => (r._1, r._2, r._3, r._4)
      assert(got.toSeq.sortBy(order) === model.sortBy(order))
      assert(!got.exists(r => r._2 == 3 && r._1 == "accept"))
    }
  }

  test("compaction: exactly one survivor per key and it is the max-offset record") {
    val rnd = new Random(7)
    val rows = (0 until 500).map { i =>
      (rnd.nextInt(3), s"k${rnd.nextInt(40)}", i.toLong, s"v$i")
    }
    val df = rows.toDF("partition", "key", "offset", "v")
    val got = Compaction.compact(df, Seq("partition", "key"))
      .select("partition", "key", "offset")
      .as[(Int, String, Long)].collect()
    val expected = rows.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).max).toMap
    assert(got.length === expected.size)
    got.foreach { case (p, k, o) => assert(expected((p, k)) === o) }
  }

  test("murmur2 routing: always in range, reference- and java-mod agree on powers of two") {
    val rnd = new Random(1234)
    for (_ <- 1 to 200) {
      val key = Array.fill(rnd.nextInt(40))(rnd.nextInt().toByte)
      for (n <- Seq(1, 3, 6, 7, 16, 100)) {
        val p = Murmur2.partitionFor(key, n)
        assert(p >= 0 && p < n)
        val pj = Murmur2.partitionForJavaClient(key, n)
        assert(pj >= 0 && pj < n)
        if ((n & (n - 1)) == 0) assert(p === pj)
      }
    }
  }

  test("sign sketch: deterministic and invariant under positive scaling") {
    val rnd = new Random(99)
    for (_ <- 1 to 50) {
      val v = Array.fill(16 + rnd.nextInt(48))(rnd.nextGaussian())
      val a = ArrayData.toArrayData(v)
      val factor = 0.1 + rnd.nextDouble() * 10
      val scaled = ArrayData.toArrayData(v.map(_ * factor))
      assert(VectorKernels.signSketch(a, 64) === VectorKernels.signSketch(a, 64))
      assert(VectorKernels.signSketch(a, 64) === VectorKernels.signSketch(scaled, 64))
    }
  }

  test("group FSM: generation never decreases; a stable leader is a member") {
    val rnd = new Random(5)
    val members = (1 to 6).map(i => s"m$i")
    for (_ <- 1 to 20) {
      var g = GroupFsm.Group()
      var lastGen = 0L
      for (seq <- 1 to 60) {
        val m = members(rnd.nextInt(members.length))
        val cmd: GroupFsm.Command = rnd.nextInt(4) match {
          case 0 => GroupFsm.Join(seq, m, Seq("range"))
          case 1 => GroupFsm.Sync(seq, m)
          case 2 => GroupFsm.Heartbeat(seq, m)
          case _ => GroupFsm.Leave(seq, m)
        }
        g = GroupFsm.step(g, cmd)
        assert(g.generation >= lastGen)
        lastGen = g.generation
        if (g.state == GroupFsm.State.Stable)
          assert(g.leader.exists(g.members.contains))
        if (g.state == GroupFsm.State.Empty) assert(g.members.isEmpty)
      }
    }
  }

  test("sampling: any weight vector partitions the corpus exactly; rates bound strata") {
    import graft.analytics.Sampling
    val rnd = new Random(11)
    val ids = (0L until 1000L).toDF("doc_id")
    for (_ <- 1 to 3) {
      // random weight vector, normalized
      val k = 2 + rnd.nextInt(4)
      val raw = Seq.fill(k)(0.05 + rnd.nextDouble())
      val weights = raw.zipWithIndex.map { case (w, i) => s"s$i" -> w / raw.sum }
      val assigned = Sampling.split(ids, col("doc_id"), weights)
      // exhaustive: every row gets exactly one split, none null
      assert(assigned.where(col("split").isNull).count() === 0)
      assert(assigned.count() === 1000)
      // each split's share is within 5pp + small-sample slack of its weight
      val bySplit = assigned.groupBy("split").count().as[(String, Long)].collect().toMap
      weights.foreach { case (name, w) =>
        val share = bySplit.getOrElse(name, 0L) / 1000.0
        assert(math.abs(share - w) < 0.06, s"$name share $share vs weight $w")
      }
    }
    // stratified: kept fraction per stratum never exceeds rate + slack,
    // and is deterministic across partitionings
    val rows = (0L until 2000L).map(i => (i, s"l${i % 4}")).toDF("doc_id", "lang")
    val rates = Map("l0" -> 0.3, "l1" -> 0.7, "l2" -> 0.0)
    val kept = graft.analytics.Sampling.stratifiedSample(
      rows, col("doc_id"), col("lang"), rates, defaultRate = 1.0)
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.getOrElse("l2", 0L) === 0L)
    assert(byLang("l3") === 500L)
    assert(math.abs(byLang("l0") / 500.0 - 0.3) < 0.07)
    assert(math.abs(byLang("l1") / 500.0 - 0.7) < 0.07)
  }
  test("luhn: synthesized check digits always validate; any single-digit flip fails") {
    val rnd = new Random(7)
    val cards = (1 to 40).map { _ =>
      val body = (1 to 15).map(_ => rnd.nextInt(10)).mkString
      // standard check-digit construction over the 15-digit body
      val digits = body.reverse.map(_ - '0')
      val sum = digits.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 0) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      body + ((10 - sum % 10) % 10).toString
    }
    val df = cards.zipWithIndex.map { case (c, i) => (i.toLong, s"pay $c now") }
      .toDF("doc_id", "text")
    val ok = graft.analytics.TextAnalysis.cardPiiFeatures(df, col("doc_id"), col("text"))
      .agg(sum(col("n_valid_cards"))).as[Long].collect()(0)
    assert(ok === 40L)
    // flip one digit of each card (never the one that makes it identical)
    val broken = cards.zipWithIndex.map { case (c, i) =>
      val pos = i % 16
      val d = c(pos) - '0'
      (i.toLong, s"pay ${c.updated(pos, (('0' + (d + 1) % 10)).toChar)} now")
    }.toDF("doc_id", "text")
    val bad = graft.analytics.TextAnalysis.cardPiiFeatures(broken, col("doc_id"), col("text"))
      .agg(sum(col("n_valid_cards"))).as[Long].collect()(0)
    assert(bad === 0L)
  }

  test("throttler: tokens never exceed burst or go negative; expired never debits") {
    val rnd = new Random(11)
    val reqs = (0 until 600).map { i =>
      (rnd.nextInt(3), i.toLong, 1000L + i * rnd.nextInt(3), 50L + rnd.nextInt(4000))
    }.toDF("shard", "seq", "ts_ms", "bytes")
    val got = graft.log.CloudTopics.throttleWrites(reqs, col("shard"), col("seq"),
        col("ts_ms"), col("bytes"), ratePerMs = 200L, burst = 2000L, timeoutMs = 8L)
      .collect()
    got.foreach { r =>
      val tokens = r.getAs[Long]("tokens_after")
      assert(tokens >= 0L && tokens <= 2000L, r.toString)
      val action = r.getAs[String]("action")
      assert(Set("pass", "throttled", "expired")(action))
      if (action == "pass") assert(r.getAs[Long]("wait_ms") === 0L)
    }
  }

  test("repetition signals: count-weighted fractions stay within [0, 1]") {
    val rnd = new Random(13)
    val docs = (0 until 60).map { i =>
      val words = (0 until 5 + rnd.nextInt(60)).map(_ => s"w${rnd.nextInt(12)}")
      (i.toLong, words.grouped(7).map(_.mkString(" ")).mkString("\n"))
    }.toDF("doc_id", "text")
    val got = graft.analytics.TextAnalysis.repetitionSignals(
      docs, col("doc_id"), col("text")).collect()
    got.foreach { r =>
      Seq("dup_line_frac_r", "dup_para_frac_r").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c = $v")
      }
    }
  }

  test("token budget: the plan reconstructs the target exactly") {
    val rnd = new Random(17)
    val docs = (0 until 400).map(i => (s"s${i % 6}", 10L + rnd.nextInt(500)))
      .toDF("source", "n_tok")
    val weights = (0 until 6).map(i => (s"s$i", 1000L * (1 + i))).toDF("source", "weight_ppm")
    val plan = graft.analytics.Sampling.tokenBudgetPlan(docs, col("source"),
        col("n_tok"), weights, budgetTokens = 500000L).collect()
    plan.foreach { r =>
      val avail = r.getAs[Long]("tokens_available")
      val target = r.getAs[Long]("tokens_target")
      val epochs = r.getAs[Long]("n_full_epochs")
      val remPpm = r.getAs[Long]("remainder_rate_ppm")
      // epochs*avail plus the remainder-rate mass reconstructs the target
      // to within the ppm floor (< avail/1e6 tokens of rounding)
      val reconstructed = epochs * avail + remPpm * avail / 1000000L
      assert(reconstructed <= target, r.toString)
      assert(target - reconstructed <= avail / 1000000L + 1, r.toString)
      assert(remPpm >= 0 && remPpm < 1000000L)
    }
  }

  test("write caching: durable never passes the HWM; sync pins them equal") {
    val rnd = new Random(19)
    val log = (0 until 4).flatMap { p =>
      (0 until 200).map(o => (p, o.toLong, o.toLong * (1 + rnd.nextInt(40)),
        20L + rnd.nextInt(400)))
    }.toDF("partition", "offset", "ts_ms", "bytes")
    val cached = graft.log.WriteCaching.watermarks(log, col("partition"),
        col("offset"), col("ts_ms"), col("bytes"), cachingEnabled = true,
        flushBytes = 1000L, flushMs = 2000L).collect()
    cached.foreach { r =>
      val hwm = r.getAs[Long]("hwm")
      val durable = r.getAs[Long]("durable_offset")
      assert(durable <= hwm - 1, r.toString)
      assert(r.getAs[Long]("unflushed_rows") === hwm - 1 - durable, r.toString)
      assert(r.getAs[Long]("n_flushes") <= 200L, r.toString)
    }
    val sync = graft.log.WriteCaching.watermarks(log, col("partition"),
        col("offset"), col("ts_ms"), col("bytes"), cachingEnabled = false,
        flushBytes = 1000L, flushMs = 2000L).collect()
    sync.foreach { r =>
      assert(r.getAs[Long]("durable_offset") === r.getAs[Long]("hwm") - 1, r.toString)
      assert(r.getAs[Long]("n_flushes") === 200L, r.toString)
    }
  }

  test("tx expiry: sweep closes exactly the idle opens; nothing stays open past it") {
    val rnd = new Random(23)
    val data = (0 until 40).flatMap { pid =>
      val quietAfter = if (pid % 3 == 0) 50L else 180L
      (0 until 12).map(i => (pid % 4, i * 16L + pid, pid.toLong, 0, (i / 4).toLong))
        .filter(_._2 <= quietAfter)
    }.toDF("partition", "arrival", "pid", "epoch", "txn_seq")
    val ends = data.groupBy("pid", "txn_seq")
      .agg(count(lit(1)).as("n"), max("arrival").as("la"))
      .where(col("n") === 4 && pmod(col("pid"), lit(5)) =!= 0)
      .select(col("pid"), col("txn_seq"), lit("commit").as("decision"),
        (col("la") + 1).as("arrival"))
    val (sweep, timeout) = (200L, 60L)
    val (applied, rejected) = graft.log.TxnEngine.expireSweep(data, ends, timeout, sweep)
    // applied + rejected partition the command stream plus the synthesized aborts
    val nEnds = ends.count()
    val nExpired = graft.log.TxnEngine.expiredTransactions(data, ends, timeout, sweep).count()
    assert(applied.count() + rejected.count() === nEnds + nExpired)
    // post-sweep: every txn idle past the timeout is closed
    val log = graft.log.TxnEngine.interleaveMarkers(data, applied)
    val stillOpen = graft.log.TxnEngine.openTransactions(log)
      .join(data.groupBy("pid", "txn_seq").agg(max("arrival").as("lu")),
        Seq("pid", "txn_seq"))
      .where(col("lu") + timeout < sweep)
    assert(stillOpen.count() === 0L)
  }

  test("bloom dedup: one-sided — every true member flags; FP rate near theory") {
    val rnd = new Random(31)
    val refKeys = (0 until 800).map(i => s"ref-key-$i")
    val candTrue = rnd.shuffle(refKeys).take(150)
    val candNew = (0 until 850).map(i => s"cand-key-$i")
    val (m, k) = (8192L, 3)
    val bits = graft.analytics.Dedup.bloomBits(
      refKeys.toDF("key"), col("key"), m, k)
    val probe = graft.analytics.Dedup.bloomProbe(
        (candTrue ++ candNew).zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("id", "key"),
        col("id"), col("key"), bits, m, k)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Boolean]("possibly_present"))
      .toMap
    // one-sided: no false negatives, ever
    candTrue.foreach(s => assert(probe(s), s))
    // false positives exist but stay near (1 - e^{-kn/m})^k ≈ 6.4%
    val fp = candNew.count(probe(_)).toDouble / candNew.size
    val bound = math.pow(1 - math.exp(-k.toDouble * refKeys.size / m), k)
    assert(fp <= 3 * bound + 0.02, s"fp=$fp bound=$bound")
  }

  test("parity minhash: signatures invariant under row order and duplication") {
    val rnd = new Random(29)
    val sh = (0 until 400).map(i => (i.toLong % 20, s"sh${rnd.nextInt(50)}"))
      .toDF("doc_id", "shingle")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      graft.analytics.Dedup.minHashSignaturesParity(df, 8)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val a = sigs(sh)
    val b = sigs(sh.orderBy(rand(7)).repartition(13).union(sh.limit(50)))
    assert(a === b)
    a.values.foreach(_.foreach(v =>
      assert(v.asInstanceOf[Long] >= 0 &&
        v.asInstanceOf[Long] < graft.analytics.Dedup.ParityMod)))
  }
}
