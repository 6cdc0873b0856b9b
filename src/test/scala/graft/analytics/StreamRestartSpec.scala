package graft.analytics

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import graft.SparkSpec

/** The growing-index streams under a failed trigger: a throw injected
  * once into trigger 1, after trigger 0 has committed, fails the query;
  * a restart from the same checkpoint must leave exactly the output and
  * state tables of an uninterrupted run. */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (2L, "completely different words entirely unrelated text here now ok"))
    .toDF("doc_id", "text")

  private val sign = (d: DataFrame) =>
    Dedup.minHashSignaturesParityFromText(d, col("doc_id"), col("text"), 2, 16)

  private val unchanged = (d: DataFrame) => d

  private def page(t: String) = s"<html><body><p>$t</p></body></html>"

  // trigger 1 holds a near-copy of trigger 0's accepted doc, so its
  // verdicts depend on trigger 0's state write
  private val crawlBatches = Seq(
    Seq((200L, "https://news.example/a", page("zebras gallop across wide open savannah plains fast")),
      (201L, "https://spam.evil.example/a", page("completely different words entirely unrelated text here now ok"))),
    Seq((300L, "https://news.example/b", page("zebras gallop across wide open savannah plains now")),
      (301L, "https://news.example/c", page("too short")),
      (302L, "https://news.example/d", page("completely different words entirely unrelated text here now yes")),
      (303L, "https://news.example/e", page("a slow red hen walks under the tall green tree")),
      (304L, "https://news.example/f", page("a slow red hen walks under the tall green tree today"))))
    .map(_.toDF("doc_id", "url", "html"))

  private val dedupBatches = Seq(
    Seq((200L, "zebras gallop across wide open savannah plains fast")),
    Seq((300L, "zebras gallop across wide open savannah plains now"),
      (301L, "the quick brown fox jumps over the lazy dog today"),
      (302L, "a slow red hen walks under the tall green tree"),
      (303L, "a slow red hen walks under the tall green tree today")))
    .map(_.toDF("doc_id", "text"))

  /** A seeded state directory and the batches' stream factory. */
  private def fresh(batches: Seq[DataFrame]): (Path, () => DataFrame) = {
    val root = Files.createTempDirectory("graft_restart_spec")
    Dedup.initIncrementalState(corpus, s"$root/state", sign, 16, 8)
    (root, StagedBatches.stage(batches))
  }

  private def crawl(root: Path, stream: () => DataFrame, sign: DataFrame => DataFrame,
      prepare: DataFrame => DataFrame): StreamingQuery =
    CleanPipeline.crawlStream(stream(), s"$root/state", s"$root/out", s"$root/ckpt", sign,
      Seq("evil.example"), Seq("casino"), minTokens = 4, shingleN = 2, k = 16, bands = 8,
      threshold = 0.3, prepare = prepare)

  private def dedup(root: Path, stream: () => DataFrame,
      sign: DataFrame => DataFrame): StreamingQuery =
    Dedup.incrementalNearDupsStream(stream(), s"$root/state", s"$root/out", s"$root/ckpt",
      sign, shingleN = 2, k = 16, bands = 8, threshold = 0.3)

  /** `f`, except that its `n`-th call throws. */
  private def failingCall(n: Int, f: DataFrame => DataFrame): DataFrame => DataFrame = {
    val calls = new AtomicInteger
    d => {
      if (calls.incrementAndGet() == n) throw new IllegalStateException("injected failure")
      f(d)
    }
  }

  /** Every row of the output and both state tables, as sorted JSON. */
  private def tables(root: Path): Map[String, Seq[String]] =
    Seq("out", "state/docs", "state/bands").map(t =>
      t -> spark.read.parquet(s"$root/$t").toJSON.collect().toSeq.sorted).toMap

  private def committed(root: Path): Set[Int] =
    Set(0, 1).filter(b => Files.exists(root.resolve(s"ckpt/commits/$b")))

  /** Runs `failing` to its injected throw, checks that only trigger 0
    * committed, then runs `restart` over the same directories. */
  private def failThenRestart(root: Path)(failing: => StreamingQuery)(
      restart: => StreamingQuery): Map[String, Seq[String]] = {
    val e = intercept[StreamingQueryException](failing)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "injected failure"), e)
    assert(committed(root) === Set(0))
    restart
    assert(committed(root) === Set(0, 1))
    tables(root)
  }

  private lazy val crawlUninterrupted = {
    val (root, stream) = fresh(crawlBatches)
    crawl(root, stream, sign, unchanged)
    tables(root)
  }

  test("crawl stream: the uninterrupted run judges both triggers") {
    val out = crawlUninterrupted("out").mkString("\n")
    assert(crawlUninterrupted("out").size === 7)
    assert(out.contains(""""doc_id":300,"verdict":"dup_corpus","dup_of":200,"batch":1"""), out)
    assert(out.contains(""""doc_id":304,"verdict":"dup_batch","dup_of":303,"batch":1"""), out)
  }

  test("crawl stream: a throw from prepare in trigger 1, then a restart, leaves the uninterrupted tables") {
    val (root, stream) = fresh(crawlBatches)
    val got = failThenRestart(root)(crawl(root, stream, sign, failingCall(2, unchanged)))(
      crawl(root, stream, sign, unchanged))
    assert(got === crawlUninterrupted)
  }

  test("crawl stream: a throw from sign in trigger 1, then a restart, leaves the uninterrupted tables") {
    val (root, stream) = fresh(crawlBatches)
    val got = failThenRestart(root)(crawl(root, stream, failingCall(2, sign), unchanged))(
      crawl(root, stream, sign, unchanged))
    assert(got === crawlUninterrupted)
  }

  test("dedup stream: a throw from sign in trigger 1, then a restart, leaves the uninterrupted tables") {
    val (cleanRoot, cleanStream) = fresh(dedupBatches)
    dedup(cleanRoot, cleanStream, sign)
    val uninterrupted = tables(cleanRoot)
    assert(uninterrupted("out").size === 5)
    val (root, stream) = fresh(dedupBatches)
    val got = failThenRestart(root)(dedup(root, stream, failingCall(2, sign)))(
      dedup(root, stream, sign))
    assert(got === uninterrupted)
  }

  test("every job a crawl trigger runs, the overlapped writes too, carries the stream's job group") {
    val (root, stream) = fresh(crawlBatches)
    var runId = ""
    val jobs = jobsDuring { runId = crawl(root, stream, sign, unchanged).runId.toString }
    assert(jobs.nonEmpty)
    assert(jobs.map(_.getProperty("spark.jobGroup.id")).toSet === Set(runId))
  }
}
