package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.{CleanPipeline, Dedup}
import graft.streaming.Transforms

/**
 * `curate`: a closed-loop catch-up through [[CleanPipeline.crawlStream]]
 * over generated `(doc_id, url, html)` chunks, against a growing
 * near-duplicate index seeded in setup by [[Dedup.initIncrementalState]].
 *
 * An operation moves the next staged chunk into the input directory and
 * runs `crawlStream` to completion: one micro-batch (URL gate, HTML
 * extraction, quality gate, MinHash/LSH probe, verdict and state writes).
 */
final class Curate(spark: SparkSession, tracer: Tracer, seed: Long, checks: Checks)
    extends Workload {
  import Curate._

  private val sc = spark.sparkContext

  private var dir: String = _
  private var chunks: IndexedSeq[IndexedSeq[Gen.Doc]] = _
  private var texts: Map[Long, String] = _
  private var fed = 0
  private var timedChunks = Seq.empty[Int]
  private val verdicts = scala.collection.mutable.Map.empty[String, Double]
  private val startMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  private val sign: DataFrame => DataFrame = d =>
    Dedup.minHashSignaturesParityFromText(d, col("doc_id"), col("text"), ShingleN, K)

  def setup(d: String): Unit = {
    dir = d
    val gen = new Gen.CurateGen(seed)
    chunks = (0 until Chunks).map(gen.chunk)
    texts = (gen.corpus ++ chunks.flatten.map(x => x.id -> x.text)).toMap
    import spark.implicits._
    Dedup.initIncrementalState(gen.corpus.toDF("doc_id", "text"), s"$dir/state", sign, K, Bands)
    spark.createDataFrame(spark.sparkContext.parallelize(chunks.zipWithIndex.flatMap {
        case (docs, c) => docs.map(x => Row(c, x.id, x.url, x.html))
      }, 8), StructType(StructField("chunk", IntegerType) +: InputSchema.fields))
      .repartition(Chunks, col("chunk"))
      .write.partitionBy("chunk").parquet(s"$dir/staged")
    Files.createDirectories(Paths.get(s"$dir/in"))
    fed = 0
    (0 until WarmupChunks).foreach(_ => trigger())
  }

  private def trigger(): Boolean = {
    if (fed >= Chunks) return false
    val c = fed
    fed += 1
    val staged = Files.list(Paths.get(s"$dir/staged/chunk=$c")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    val res = tracer.op("trigger", sc) {
      Files.move(staged, Paths.get(f"$dir/in/$c%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      val t0 = System.nanoTime()
      val starts = tracer.queryStarts.size
      val stream = Transforms.PathInput(s"$dir/in", InputSchema, maxFilesPerTrigger = Some(1))
        .stream(spark)
      CleanPipeline.crawlStream(stream, s"$dir/state", s"$dir/verdicts", s"$dir/ckpt", sign,
        Gen.BlockedDomains, Gen.BlockedPathWords, MinTokens, ShingleN, K, Bands,
        Threshold)
      if (tracer.recording && tracer.queryStarts.size > starts)
        startMs += (tracer.queryStarts.asScala.last - t0) / 1e6
    } { _ => checkChunk(c) }
    if (tracer.recording) timedChunks :+= c
    true
  }

  /** Blocked and low-quality counts are exact, every planted exact
    * duplicate is flagged, and every flagged pair verifies at or above
    * the threshold. Chunk `c` is micro-batch `c` of the stream. */
  private def checkChunk(c: Int): Boolean = {
    val rows = spark.read.parquet(s"$dir/verdicts/batch=$c")
      .select("doc_id", "verdict", "dup_of").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    val docs = chunks(c)
    def planted(k: String) = docs.count(_.kind == k)
    def got(v: String) = rows.values.count(_._1 == v)
    val flagged = rows.filter { case (_, (v, _)) => v == "dup_corpus" || v == "dup_batch" }
    val missed = docs.filter(x => x.kind == "exact_dup" && !flagged.contains(x.id))
    val unverified = flagged.filter { case (id, (_, of)) =>
      !texts.contains(of) || Gen.jaccard(texts(id), texts(of), ShingleN) < Threshold
    }
    val problems = Seq(
      "verdict ids differ from the chunk's" -> (rows.keySet != docs.map(_.id).toSet),
      s"blocked_url ${got("blocked_url")} != ${planted("blocked_url")}" ->
        (got("blocked_url") != planted("blocked_url")),
      s"low_quality ${got("low_quality")} != ${planted("low_quality")}" ->
        (got("low_quality") != planted("low_quality")),
      s"exact duplicates not flagged: ${missed.map(x => s"${x.id} (copy of ${x.source}: " +
        rows.get(x.source).orElse(Some(("corpus", -1L))).get + s" -> ${rows(x.id)})").mkString(", ")}" ->
        missed.nonEmpty,
      s"flagged below the threshold: ${unverified.map { case (id, (v, of)) =>
        val d = docs.find(_.id == id).get
        f"$id ${d.kind} (source ${d.source}) $v of $of, jaccard " +
          f"${texts.get(of).map(Gen.jaccard(texts(id), _, ShingleN)).getOrElse(-1.0)}%.3f"
      }.mkString(", ")}" -> unverified.nonEmpty)
      .collect { case (what, true) => what }
    problems.foreach(p => System.err.println(s"[perfbench] curate chunk $c: $p"))
    if (tracer.recording)
      rows.values.groupMapReduce(_._1)(_ => 1.0)(_ + _).foreach { case (v, n) =>
        verdicts(v) = verdicts.getOrElse(v, 0.0) + n
      }
    problems.isEmpty
  }

  override def beforeRun(): Unit = { timedChunks = Nil; verdicts.clear(); startMs.clear() }

  def run(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs && trigger()) ()

  def verify(): Unit =
    checks.check("curate state holds the corpus and every admitted doc",
      spark.read.parquet(s"$dir/state/docs").count() ==
        CorpusDocs + (0 until fed).map(c =>
          spark.read.parquet(s"$dir/verdicts/batch=$c").where(col("verdict") === "new").count()).sum)

  def endToEnd(ops: Seq[Op]): Map[String, Double] = {
    val triggers = ops.filter(o => o.kind == "trigger" && o.done)
    Map("op_p50_ms" -> Stats.median(triggers.map(_.ms)),
      "records_s" -> triggers.size * DocsPerChunk / Stats.spanS(triggers))
  }

  def perLayer(ops: Seq[Op], windowS: Double): Map[String, Double] = {
    val timed = ops.filter(_.kind == "trigger")
    Tracer.await(5000)(tracer.progress.size >= fed)
    val prog = tracer.progress.asScala.toSeq.filter(p => timedChunks.contains(p.batchId.toInt))
    def phase(n: String) = Stats.median(prog.flatMap(p => Option(p.durationMs.get(n)).map(_.toDouble)))
    Map(
      "streaming.triggers" -> timed.size.toDouble,
      "streaming.start_ms" -> Stats.median(startMs.toSeq),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.checkpoint_mb" -> Fs.dirSizeMb(s"$dir/ckpt"),
      "analytics.index_rows" -> spark.read.parquet(s"$dir/state/docs").count().toDouble,
      "analytics.state_mb" -> Fs.dirSizeMb(s"$dir/state")) ++
      Seq("blocked_url", "low_quality", "dup_corpus", "dup_batch", "new").map(v =>
        s"analytics.verdicts.$v" -> verdicts.getOrElse(v, 0.0))
  }
}

object Curate {
  // inputs: a CorpusDocs-doc index, then chunks of DocsPerChunk docs with
  // MinWords..MaxWords words, of which BlockedShare have blocked URLs,
  // ShortShare fall below the MinTokens quality gate, GateEdgeShare just
  // pass it, and ExactDupShare / NearDupShare (NearDupEdits of the words
  // replaced) copy an earlier admissible doc, SameBatchShare of them one
  // of the same chunk
  val CorpusDocs = 1500
  val DocsPerChunk = 300
  val MinWords = 40
  val MaxWords = 80
  val MinTokens = 20
  val BlockedShare = 0.06
  val ShortShare = 0.06
  val GateEdgeShare = 0.04
  val ExactDupShare = 0.05
  val NearDupShare = 0.05
  val SameBatchShare = 0.3
  val NearDupEdits = 0.05
  val Chunks = 12
  val WarmupChunks = 1
  val ShingleN = 3
  val K = 12
  val Bands = 6
  val Threshold = 0.5
  val InputSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("url", StringType), StructField("html", StringType)))
}
