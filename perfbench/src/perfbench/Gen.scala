package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import graft.functions.{Murmur2, RecordBatchCodec}

/** Seeded input generators. Every generator derives its own stream from
  * the workload seed, so the same seed always gives the same inputs. */
object Gen {

  /** Stream `stream` of the workload seed. Seed and stream are hashed
    * with SplittableRandom's own 64-bit mix: SplittableRandom seeds that
    * differ by its gamma give one sequence shifted by one draw. */
  def rng(seed: Long, stream: Long): SplittableRandom = {
    val s = new SplittableRandom(seed).nextLong()
    new SplittableRandom(new SplittableRandom(s ^ stream).nextLong())
  }

  /** Zipf(s) sampler over `n` ranks, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Lower-case pseudo-words, so values compress like text. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(6)
      seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  def words(r: SplittableRandom, vocab: Array[String], n: Int): Seq[String] =
    Seq.fill(n)(vocab(r.nextInt(vocab.length)))

  def textBytes(r: SplittableRandom, vocab: Array[String], size: Int): Array[Byte] = {
    val sb = new StringBuilder(size + 16)
    while (sb.length < size) sb.append(vocab(r.nextInt(vocab.length))).append(' ')
    sb.setLength(size)
    sb.toString.getBytes(UTF_8)
  }

  // Spark's xxhash64 over (int, long, binary, binary) columns, folded the
  // way the SQL function folds a column list (seed 42, each column's hash
  // seeds the next), so expectations compare with `xxhash64(...)` results.
  def xxInt(v: Int, seed: Long): Long = XXH64.hashInt(v, seed)
  def xxLong(v: Long, seed: Long): Long = XXH64.hashLong(v, seed)
  def xxBytes(b: Array[Byte], seed: Long): Long =
    if (b == null) seed
    else XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  def recordHash(partition: Int, offset: Long, key: Array[Byte], value: Array[Byte]): Long =
    xxBytes(value, xxBytes(key, xxLong(offset, xxInt(partition, 42L))))
  def kvHash(key: Array[Byte], value: Array[Byte]): Long =
    xxBytes(value, xxBytes(key, 42L))

  // ------------------------------------------------------------ pubsub

  /** One Kafka v2 wire batch of a produce request. `fate` 0 = intact,
    * 1 = CRC field corrupted, 2 = truncated below the 61-byte header. */
  final case class WireBatch(partition: Int, arrival: Int, fate: Int, bytes: Array[Byte], records: IndexedSeq[(Array[Byte], Array[Byte])])

  final case class Request(batches: IndexedSeq[WireBatch]) {
    val wireBytes: Long = batches.map(_.bytes.length.toLong).sum
    /** Accepted records per partition, in the order offsets are assigned:
      * batch arrival order, then record order inside the batch. */
    val accepted: Map[Int, IndexedSeq[(Array[Byte], Array[Byte])]] =
      batches.filter(_.fate == 0).groupBy(_.partition).map { case (p, bs) =>
        p -> bs.sortBy(_.arrival).flatMap(_.records)
      }
    val acceptedRecords: Int = accepted.values.map(_.size).sum
    val rejectedBatches: Int = batches.count(_.fate != 0)
  }

  final class PubsubGen(seed: Long) {
    import Pubsub._
    private val vocab = vocabulary(rng(seed, 1), 512)
    private val zipf = new Zipf(Keys, ZipfS)
    private def keyBytes(k: Int) = f"key-$k%05d".getBytes(UTF_8)
    private val partOfKey = (0 until Keys).map(k =>
      Murmur2.partitionFor(keyBytes(k), Partitions)).toArray

    /** `n` records (partition, key, value), keys Zipf-skewed. */
    def records(r: SplittableRandom, n: Int): IndexedSeq[(Int, Array[Byte], Array[Byte])] =
      (0 until n).map { _ =>
        val k = zipf.sample(r)
        val size = MinValue + r.nextInt(MaxValue - MinValue + 1)
        (partOfKey(k), keyBytes(k), textBytes(r, vocab, size))
      }

    def requests(count: Int): IndexedSeq[Request] = {
      val r = rng(seed, 2)
      (0 until count).map { _ =>
        val recs = records(r, RecordsPerRequest)
        val batches = recs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (part, rs) =>
          rs.grouped(RecordsPerBatch).zipWithIndex.map { case (group, arrival) =>
            val codec = Codecs(r.nextInt(Codecs.size))
            val kv = group.map(x => (x._2, x._3)).toIndexedSeq
            val wire = RecordBatchCodec.encode(0L, 0, 0, 0L, 0L, -1L, -1, -1,
              kv.zipWithIndex.map { case ((k, v), i) =>
                RecordBatchCodec.Rec(i, 0L, k, v, Nil)
              }, codec)
            val u = r.nextDouble()
            val (fate, bytes) =
              if (u < CorruptShare) {
                val b = wire.clone(); b(17) = (b(17) ^ 0x5a).toByte; (1, b)
              } else if (u < CorruptShare + TruncateShare)
                (2, java.util.Arrays.copyOf(wire, 20 + r.nextInt(40)))
              else (0, wire)
            WireBatch(part, arrival, fate, bytes, kv)
          }
        }
        // batches of one request arrive interleaved across partitions
        Request(shuffle(r, batches.toIndexedSeq))
      }
    }

    /** The backlog built in setup: `n` records with dense offsets. */
    def backlog(n: Int): IndexedSeq[(Int, Long, Long, Array[Byte], Array[Byte])] = {
      val next = new Array[Long](Partitions)
      records(rng(seed, 3), n).zipWithIndex.map { case ((part, k, v), i) =>
        val off = next(part); next(part) += 1
        (part, off, i.toLong, k, v)
      }
    }
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // -------------------------------------------------------------- lake

  /** A lake row and where the multiplexer must put it. */
  final case class LakeRow(partition: Int, offset: Long, timestamp: Long,
      key: Array[Byte], value: Array[Byte], output: String, errorCode: String)

  final class LakeGen(seed: Long) {
    import Lake._
    private val vocab = vocabulary(rng(seed, 11), 512)
    private val next = new Array[Long](Partitions)
    private val r = rng(seed, 12)
    private val hourMs = 3600000L
    private val t0 = 1700000000000L / hourMs * hourMs

    /** Key = event time (8 bytes) + chunk (4) + row (4): the multiplexer
      * partitions on the event time, the checks group by chunk. */
    def chunk(c: Int): IndexedSeq[LakeRow] = (0 until RowsPerChunk).map { i =>
      val part = r.nextInt(Partitions)
      val off = next(part); next(part) += 1
      val ts = t0 + c * 15 * 60000L + r.nextInt(3600000)
      val key = ByteBuffer.allocate(16).putLong(ts).putInt(c).putInt(i).array()
      val u = r.nextDouble()
      val (magic, schema, err) =
        if (u < BadInputShare) (1, Registered.head, "bad_input")
        else if (u < BadInputShare + TranslationShare)
          (0, Unregistered(r.nextInt(Unregistered.size)), "translation_error")
        else if (u < BadInputShare + TranslationShare + IncompatibleShare)
          (0, Incompatible(r.nextInt(Incompatible.size)), "incompatible_schema")
        else {
          val ok = Registered.filterNot(Incompatible.contains)
          (0, ok(r.nextInt(ok.size)), null)
        }
      val payload = textBytes(r, vocab, MinValue + r.nextInt(MaxValue - MinValue + 1))
      val value = ByteBuffer.allocate(5 + payload.length)
        .put(magic.toByte).putInt(schema).put(payload).array()
      // the router guest sends odd offsets to topic "odd", even ones to
      // the default output
      LakeRow(part, off, ts, key, value, if (off % 2 == 1) "odd" else "main", err)
    }
  }

  // ------------------------------------------------------------ curate

  final case class Doc(id: Long, url: String, html: String, text: String,
      kind: String, source: Long)

  val BlockedDomains = Seq("evil.example")
  val BlockedPathWords = Seq("casino")

  final class CurateGen(seed: Long) {
    import Curate._
    private val r = rng(seed, 21)
    private val vocab = vocabulary(rng(seed, 22), 4000)
    private val domains = Seq("news.example", "blog.example", "wiki.example", "shop.example")
    /** Texts of earlier docs that pass both gates — dup sources. */
    private val eligible = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]

    private def text(n: Int) = words(r, vocab, n).mkString(" ")
    private def fullText() = text(MinWords + r.nextInt(MaxWords - MinWords + 1))
    def html(t: String) = s"<html><body><p>$t</p></body></html>"

    val corpus: IndexedSeq[(Long, String)] = (0 until CorpusDocs).map { i =>
      val t = fullText()
      eligible += (i.toLong -> t)
      i.toLong -> t
    }

    def chunk(c: Int): IndexedSeq[Doc] = {
      val firstOfChunk = eligible.size
      (0 until DocsPerChunk).map { i =>
        val id = CorpusDocs.toLong + c.toLong * DocsPerChunk + i
        val path = s"https://${domains(r.nextInt(domains.size))}/article/$id"
        val u = r.nextDouble()
        def source(): (Long, String) = {
          val same = eligible.size > firstOfChunk && r.nextDouble() < SameBatchShare
          if (same) eligible(firstOfChunk + r.nextInt(eligible.size - firstOfChunk))
          else eligible(r.nextInt(eligible.size))
        }
        val shares = Iterator(BlockedShare, ShortShare, GateEdgeShare, ExactDupShare,
          NearDupShare).scanLeft(0.0)(_ + _).drop(1).toIndexedSeq
        val doc =
          if (u < shares(0)) {
            val url = if (r.nextBoolean()) s"https://ads.evil.example/x/$id"
              else s"https://blog.example/casino-bonus/$id"
            val t = fullText()
            Doc(id, url, html(t), t, "blocked_url", -1L)
          } else if (u < shares(1)) {
            // every length below the quality gate, the one just below included
            val t = text(3 + r.nextInt(MinTokens - 3))
            Doc(id, path, html(t), t, "low_quality", -1L)
          } else if (u < shares(2)) {
            // pages that just pass the quality gate
            val t = text(MinTokens + r.nextInt(3))
            Doc(id, path, html(t), t, "fresh", -1L)
          } else if (u < shares(3)) {
            val (src, t) = source()
            Doc(id, path, html(t), t, "exact_dup", src)
          } else if (u < shares(4)) {
            val (src, t) = source()
            val ws = t.split(' ').map(w =>
              if (r.nextDouble() < NearDupEdits) vocab(r.nextInt(vocab.length)) else w)
            val t2 = ws.mkString(" ")
            Doc(id, path, html(t2), t2, "near_dup", src)
          } else {
            val t = fullText()
            Doc(id, path, html(t), t, "fresh", -1L)
          }
        if (doc.kind != "blocked_url" && doc.kind != "low_quality")
          eligible += (doc.id -> doc.text)
        doc
      }
    }
  }

  /** Word n-gram Jaccard, tokenized as the dedup operators tokenize. */
  def jaccard(a: String, b: String, n: Int): Double = {
    def sh(t: String) = {
      val toks = t.trim.toLowerCase.split("\\s+")
      if (toks.length < n) Set.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    val u = (x union y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }
}
