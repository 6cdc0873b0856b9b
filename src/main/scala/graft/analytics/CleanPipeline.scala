package graft.analytics

import graft.{Overlap, Pins}
import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Composite corpus-cleaning pipeline (the C4/FineWeb shape): language
 * ID -> quality thresholds -> exact dedup, with a one-pass funnel for
 * observability.
 *
 * Scale shape: the language and quality stages are narrow filters over
 * codegen'd expressions — they run at scan speed and fuse into one
 * stage. The only shuffle is the final dedup's hash aggregation on
 * `md5(lower(text))`. The funnel is a SINGLE aggregate pass with
 * conditional sums, not one job per stage — at 100 TB a four-stage
 * recount would read the corpus four times for four numbers.
 */
object CleanPipeline {

  /** Cleaning thresholds. Defaults target the synthetic corpus'
   *  distributions (median 56 tokens, stopword ratio median 0.06). */
  final case class Config(
      lang: String = "en",
      minTokens: Int = 30,
      maxTokens: Int = 10000,
      minStopwordRatio: Double = 0.03)

  private def features(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val t = TextAnalysis.tokens(textCol)
    docs.select(
      idCol.as("doc_id"),
      textCol.as("text"),
      size(t).as("n_tokens"),
      (TextAnalysis.hitCount(t, TextAnalysis.EnStopwords).cast("double") /
        size(t).cast("double")).as("stopword_ratio"),
      TextAnalysis.langId(textCol).as("lang_pred"))
  }

  private def langOk(cfg: Config): Column = col("lang_pred") === cfg.lang
  private def qualOk(cfg: Config): Column =
    col("n_tokens").between(cfg.minTokens, cfg.maxTokens) &&
      col("stopword_ratio") >= cfg.minStopwordRatio

  /**
   * Surviving corpus after all stages: one row per distinct surviving
   * text, keyed by the canonical (minimum) doc_id, with the number of
   * exact copies that were collapsed.
   */
  def clean(docs: DataFrame, idCol: Column, textCol: Column,
      cfg: Config = Config()): DataFrame =
    features(docs, idCol, textCol)
      .where(langOk(cfg) && qualOk(cfg))
      .groupBy(md5(lower(col("text"))).as("text_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("copies"))

  /**
   * Optional stage 0 — URL-canonicalization dedup ahead of the text
   * stages (the stage every CommonCrawl-derived corpus runs BEFORE
   * text dedup: two crawl visits of one page differ in tracking
   * params / fragment / case long before their texts differ). Keeps
   * each canonical URL's minimum doc id ([[Dedup.urlDedup]]), then
   * runs [[clean]] on the survivors. Scale shape: one extra hash
   * aggregate on the canonical-URL key plus a doc-id semi join back;
   * the text stages are unchanged.
   */
  def cleanFromUrls(docs: DataFrame, idCol: Column, textCol: Column,
      urlCol: Column, cfg: Config = Config()): DataFrame = {
    val keep = Dedup.urlDedup(docs, idCol, urlCol)
      .select(col("doc_id").as("__url_keep_id"))
    clean(docs.join(keep, idCol === col("__url_keep_id"), "left_semi"),
      idCol, textCol, cfg)
  }

  /**
   * Per-stage survivor counts in ONE pass: rows in, rows after language
   * ID, rows after quality thresholds, distinct texts after dedup.
   */
  def funnel(docs: DataFrame, idCol: Column, textCol: Column,
      cfg: Config = Config()): DataFrame =
    features(docs, idCol, textCol).agg(
      count(lit(1)).as("n_raw"),
      sum(when(langOk(cfg), 1L).otherwise(0L)).as("n_lang"),
      sum(when(langOk(cfg) && qualOk(cfg), 1L).otherwise(0L)).as("n_qual"),
      count_distinct(when(langOk(cfg) && qualOk(cfg),
        md5(lower(col("text"))))).as("n_dedup"))

  /**
   * The MODERN curation funnel (the FineWeb recipe): the full Gopher
   * quality-rule battery AND the repetition-signal battery gate first;
   * survivors exact-dedup on whitespace-normalized text (first doc id
   * wins); the deduped set then drops the CCNet perplexity TAIL.
   * Returns ONE row: per-stage survivor counts plus the exact doc-id
   * sum of the final set — a single scalar certifying the precise
   * final membership (any off-by-one survivor shifts it).
   *
   * Scale shape: both rule batteries are shuffle-free projections,
   * joined back on doc_id (co-partitioned hash joins); dedup is one
   * hash aggregate on the normalized-text key; the funnel itself is
   * one aggregate pass with conditional sums. `buckets` comes from
   * [[Sampling.perplexityBuckets]] — its model is two broadcast count
   * tables.
   */
  def fineWebFunnel(docs: DataFrame, idCol: Column, textCol: Column,
      buckets: DataFrame, minWords: Int = 50, minStopHits: Int = 2): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), textCol.as("__text"))
    val g = TextAnalysis.gopherRules(base, col("doc_id"), col("__text"),
        minWords = minWords, minStopHits = minStopHits)
      .select(col("doc_id"), col("keep").as("__gk"))
    val r = TextAnalysis.repetitionSignals(base, col("doc_id"), col("__text"))
      .select(col("doc_id"), col("keep").as("__rk"))
    // the bucket table is tiny ((doc_id, bucket) rows) but its lineage —
    // LM training + two-phase rank — is not; materialize it once so the
    // funnel's plan cannot re-derive the model per consumer
    val bk = buckets.select(col("doc_id"), col("bucket")).pinned()
    val joined = base
      .join(g, "doc_id").join(r, "doc_id")
      .join(bk, "doc_id")
      .withColumn("__key",
        md5(regexp_replace(trim(lower(col("__text"))), "\\s+", " ").cast("binary")))
    // canonical id per text key via an unordered key-partitioned window —
    // ONE pass over the composed tree (a self-join against an aggregate
    // of the same tree would evaluate the batteries twice)
    val keyW = org.apache.spark.sql.expressions.Window.partitionBy("__key")
    val withCanon = joined.withColumn("__cid",
      min(when(col("__gk") && col("__rk"), col("doc_id"))).over(keyW))
    val kept = col("__gk") && col("__rk") && col("doc_id") === col("__cid")
    val fin = kept && col("bucket") =!= "tail"
    withCanon.agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("__gk"), 1L).otherwise(0L)).as("n_gopher"),
      sum(when(col("__gk") && col("__rk"), 1L).otherwise(0L)).as("n_rules"),
      sum(when(kept, 1L).otherwise(0L)).as("n_dedup"),
      sum(when(fin, 1L).otherwise(0L)).as("n_final"),
      sum(when(fin, col("doc_id")).otherwise(0L)).as("final_id_sum"))
  }

  /**
   * The Dolma curation funnel: the Gopher quality battery gates the
   * INCOMING shard, then cross-shard paragraph Bloom dedup fires
   * INSIDE the funnel — the already-ingested shard's `paraTokens`-token
   * paragraphs fold into the shared bit array ([[Dedup.bloomBits]]),
   * each incoming quality survivor's paragraphs probe it
   * ([[Dedup.bloomProbe]] unchanged), possibly-present paragraphs
   * drop, and a document survives iff it retains at least one
   * paragraph. The EXACT-membership companion (true membership in the
   * reference paragraph set) runs beside the probe, so the one funnel
   * row also prices what the one-sided filter cost: `n_exact` is the
   * survivor count a lossless dedup would keep, `fp_paras_dropped`
   * the paragraphs dropped only to false positives.
   *
   * Scale shape: the battery is a shuffle-free projection; the bit
   * array stays ≤ mBits rows no matter how large the ingested corpus
   * (the cross-shard property Dolma's deduper is built on); the probe
   * is an int-keyed join + per-doc partial agg; the funnel is one
   * aggregate row.
   */
  def dolmaFunnel(incoming: DataFrame, ingested: DataFrame, idCol: Column,
      textCol: Column, mBits: Long, k: Int, paraTokens: Int = 10,
      minWords: Int = 50, minStopHits: Int = 2): DataFrame = {
    val base = incoming.select(idCol.as("doc_id"), textCol.as("__text"))
    // checkpoint the flags so the battery evaluates once although both
    // the probe stage (survivors only) and the funnel aggregate read it
    val flags = base.join(
      TextAnalysis.gopherRules(base, col("doc_id"), col("__text"),
          minWords = minWords, minStopHits = minStopHits)
        .select(col("doc_id"), col("keep").as("__gk")),
      "doc_id").pinned()
    val refParas = Dedup.tokenParagraphs(ingested, idCol, textCol, paraTokens)
    val bits = Dedup.bloomBits(refParas, col("para"), mBits, k)
    // only quality SURVIVORS probe: rejects can never reach the output,
    // so hashing/exploding their paragraphs (and the distinct shuffle
    // over them) would be pure waste at corpus scale
    val incParas = Dedup.tokenParagraphs(flags.where(col("__gk")),
      col("doc_id"), col("__text"), paraTokens)
    val probed = Dedup.bloomProbe(incParas, col("doc_id"), col("para"),
      bits, mBits, k)
    val truth = refParas.select(col("para").as("key")).distinct()
      .withColumn("__t", lit(1))
    val perDoc = probed.join(truth, Seq("key"), "left")
      .groupBy("id")
      .agg(sum(when(!col("possibly_present"), 1L).otherwise(0L)).as("__nkeep"),
        sum(when(col("__t").isNull, 1L).otherwise(0L)).as("__nkeep_exact"),
        sum(when(col("possibly_present") && col("__t").isNull, 1L)
          .otherwise(0L)).as("__nfp"))
      .withColumnRenamed("id", "doc_id")
    val lab = flags.select("doc_id", "__gk")
      .join(perDoc, Seq("doc_id"), "left")
    val bloomKept = col("__gk") && coalesce(col("__nkeep"), lit(0L)) > 0
    val exactKept = col("__gk") && coalesce(col("__nkeep_exact"), lit(0L)) > 0
    lab.agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("__gk"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(bloomKept, 1L).otherwise(0L)).as("n_bloom"),
      sum(when(exactKept, 1L).otherwise(0L)).as("n_exact"),
      sum(when(col("__gk"), coalesce(col("__nfp"), lit(0L))).otherwise(0L))
        .as("fp_paras_dropped"),
      sum(when(bloomKept, col("doc_id")).otherwise(0L)).as("final_id_sum"))
  }

  /**
   * [[fineWebFunnel]] with the dedup stage the actual FineWeb recipe
   * uses — FUZZY MinHash-LSH, not exact text hashing: rule survivors
   * shingle, sign ([[Dedup.minHashSignaturesParity]] so a SQL oracle
   * replays the banding), band into candidates (hot buckets capped),
   * verify exact Jaccard, and the surviving near-dup pairs cluster by
   * connected components; each cluster keeps its minimum doc id. The
   * CCNet tail drop then applies to the cluster canonicals. Returns
   * the same one-row funnel shape as [[fineWebFunnel]].
   *
   * Scale shape: everything before dedup is a shuffle-free projection;
   * the LSH stage is the [[Dedup]] machinery unchanged (banded join
   * bucket-capped, candidate verify per pair, log-round / size-gated
   * components). The shingle set is `localCheckpoint`ed because BOTH
   * the signature pass and the Jaccard verify consume it — at
   * production scale that materialization is a persisted table, same
   * shape.
   */
  def fineWebFunnelFuzzy(docs: DataFrame, idCol: Column, textCol: Column,
      buckets: DataFrame, minWords: Int = 50, minStopHits: Int = 2,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), textCol.as("__text"))
    val g = TextAnalysis.gopherRules(base, col("doc_id"), col("__text"),
        minWords = minWords, minStopHits = minStopHits)
      .select(col("doc_id"), col("keep").as("__gk"))
    val r = TextAnalysis.repetitionSignals(base, col("doc_id"), col("__text"))
      .select(col("doc_id"), col("keep").as("__rk"))
    // The bucket table (LM train + two-phase rank lineage) is needed only
    // by the FINAL funnel aggregate, not by the gate/dedup chain — pin it
    // overlapped with that chain and join it late, instead of
    // serializing its materialization in front of the whole chain. The
    // reorder is row-identical BECAUSE buckets cover every doc with
    // exactly one row (perplexityBuckets ranks the full corpus,
    // unscorable docs sink to the tail); a partial-coverage bucket table
    // would change which docs enter the dedup stage, so that coverage is
    // a contract of this function, not an incidental property.
    val (bk, labeled) = Overlap.both(
      buckets.select(col("doc_id"), col("bucket")).pinned(), {
      // The flag table is consumed by THREE actions (the shingle
      // materialization, the components' edge count, the final funnel
      // aggregate) — pin it so the rule batteries evaluate once.
      val flags = base.join(g, "doc_id").join(r, "doc_id")
        .pinned()
      // FineWeb dedups AFTER the quality gates: only rule survivors shingle
      val survivors = flags.where(col("__gk") && col("__rk"))
        .select(col("doc_id"), col("__text"))
      val sh = Dedup.shingled(survivors, col("doc_id"), col("__text"), shingleN)
        .pinned()
      val cands = Dedup.lshCandidates(
        Dedup.minHashSignaturesParity(sh, k), k, bands, maxBucket)
      val pairs = Dedup.verifyJaccard(cands, sh)
        .where(col("jaccard") >= threshold).select("doc_a", "doc_b")
      flags.join(Dedup.connectedComponents(pairs, survivors.select("doc_id")),
        Seq("doc_id"), "left")
    })
    val lab = labeled.join(bk, "doc_id")
    val kept = col("__gk") && col("__rk") && col("cluster_id") === col("doc_id")
    val fin = kept && col("bucket") =!= "tail"
    lab.agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("__gk"), 1L).otherwise(0L)).as("n_gopher"),
      sum(when(col("__gk") && col("__rk"), 1L).otherwise(0L)).as("n_rules"),
      sum(when(kept, 1L).otherwise(0L)).as("n_dedup"),
      sum(when(fin, 1L).otherwise(0L)).as("n_final"),
      sum(when(fin, col("doc_id")).otherwise(0L)).as("final_id_sum"))
  }

  /**
   * Continuous crawl ingestion — the end-to-end streaming composition
   * of the stage-0 operators: each micro-batch of raw crawl rows
   * `(doc_id, url, html)` runs the UT1-style URL gate
   * ([[Dedup.urlBlocked]]), HTML → text extraction
   * ([[TextAnalysis.htmlToText]]), a minimum-token quality gate, and
   * the growing-index incremental near-dup probe
   * ([[Dedup.incrementalBatchStep]]) — only docs surviving every gate
   * are judged, and only `new` docs join the standing index for later
   * batches. One verdict row per INPUT doc with stage attribution, by
   * precedence: `blocked_url` > `low_quality` > `dup_corpus` >
   * `dup_batch` > `new` (`dup_of` set on the dup verdicts).
   *
   * Scale shape per batch: the gates are codegen'd scan-speed filters
   * (no join — blocklists are literal arrays), and the dedup probe is
   * batch-scale against an index of any size (probe-scoped cap,
   * candidate-scoped verify). Output and state use the same
   * batch-partitioned overwrite rule as [[Dedup.incrementalNearDupsStream]]
   * — micro-batch replay is idempotent.
   */
  def crawlStream(batches: DataFrame, stateDir: String, outDir: String,
      ckptDir: String, sign: DataFrame => DataFrame,
      blockedDomains: Seq[String], blockedPathWords: Seq[String],
      minTokens: Int, shingleN: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int = 1000,
      prepare: DataFrame => DataFrame = identity):
      org.apache.spark.sql.streaming.StreamingQuery =
    Pins.eachBatch(batches, ckptDir) { (scope, batch, batchId) =>
      // Null-safe gates: a null URL fails CLOSED (blocked — the gate
      // cannot vouch for it) and a null page extracts to empty text
      // (low-quality). Without the coalesces the gate columns go
      // null, the doc is excluded from `eligible` but still written,
      // and the verdict ladder emits NULL instead of a stage label.
      val staged = scope.pin(prepare(batch).select(col("doc_id"), col("url"), col("html"))
        .withColumn("__blocked", when(col("url").isNull, lit(true))
          .otherwise(Dedup.urlBlocked(col("url"), blockedDomains, blockedPathWords)))
        .withColumn("text", TextAnalysis.htmlToText(coalesce(col("html"), lit(""))))
        .withColumn("__lowq",
          TextAnalysis.tokenCount(col("text")) < minTokens))
      val eligible = staged.where(!col("__blocked") && !col("__lowq"))
        .select("doc_id", "text")
      val (verdicts0, batchBands) = Dedup.incrementalBatchStep(scope, stateDir,
        eligible, batchId, sign, shingleN, k, bands, threshold, maxBucket)
      // Pin the ladder-merged verdicts: the judge DAG evaluates ONCE and
      // the output write, the accepted-id cut and both state writes read
      // the pin.
      val ladder = scope.pin(staged.select(col("doc_id"), col("__blocked"), col("__lowq"))
        .join(verdicts0.withColumnRenamed("verdict", "__dv"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__blocked"), lit("blocked_url"))
            .when(col("__lowq"), lit("low_quality"))
            .otherwise(col("__dv")).as("verdict"),
          when(!col("__blocked") && !col("__lowq"), col("dup_of")).as("dup_of")))
      val accepted = ladder.where(col("verdict") === "new").select("doc_id")
      Overlap.both(
        ladder.write.mode("overwrite").parquet(s"$outDir/batch=$batchId"),
        Dedup.growIncrementalState(stateDir, batchId, eligible, batchBands, accepted))
    }

  /**
   * [[crawlStream]] fed RAW WARC FILES — the literal CommonCrawl
   * shape: each micro-batch row is `(file_id, warc)` bytes; the real
   * Content-Length-walking parser ([[Warc.parseResponses]]) recovers
   * the response records, the WARC-Target-URI becomes the URL under
   * the blocklist gate, the HTTP body the HTML under extraction, and
   * `docIdPattern` (a regex with one capture group) extracts the
   * stable doc id from the URI. Everything downstream — gates,
   * extraction, growing-index dedup, the verdict ladder, state
   * idempotence — is [[crawlStream]] unchanged, so WARC-fed and
   * row-fed runs over the same content produce identical verdicts
   * (pinned by spec).
   */
  def crawlStreamFromWarc(batches: DataFrame, stateDir: String,
      outDir: String, ckptDir: String, sign: DataFrame => DataFrame,
      blockedDomains: Seq[String], blockedPathWords: Seq[String],
      minTokens: Int, shingleN: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int = 1000,
      docIdPattern: String = "/([0-9]+)$"):
      org.apache.spark.sql.streaming.StreamingQuery =
    crawlStream(batches, stateDir, outDir, ckptDir, sign, blockedDomains,
      blockedPathWords, minTokens, shingleN, k, bands, threshold, maxBucket,
      prepare = b => {
        val idStr = regexp_extract(col("target_uri"), docIdPattern, 1)
        Warc.parseResponses(b, col("file_id"), col("warc"))(
            b.sparkSession).toDF()
          .where(col("warc_type") === "response")
          // fail LOUDLY on a URI the pattern cannot identify: a null
          // doc_id would silently drop the doc from stage attribution
          // (the verdict join never matches null), violating the
          // one-verdict-per-input-doc contract. The cast-null guard
          // closes the overflow hole: a captured id wider than int64
          // casts to null (non-ANSI cast) and must raise too, not
          // slip through as an unattributable null row.
          .select(when(idStr =!= "" && idStr.cast("long").isNotNull,
              idStr.cast("long"))
              .otherwise(raise_error(concat(
                lit("WARC-Target-URI does not match docIdPattern: "),
                col("target_uri")))).as("doc_id"),
            col("target_uri").as("url"), col("body").as("html"))
      })
}
