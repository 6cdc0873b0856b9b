package graft.entries

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.analytics.{Bitext, CleanPipeline, Decontaminate, Dedup, Sampling, Sft, Similarity, Sketches, TextAnalysis}
import graft.functions.GraftFunctions
import graft.groups.ConsumerGroups
import graft.log.{Compaction, RecordLog, TieredStorage, Transactions, TxnEngine}
import graft.model.BatchType
import graft.operators.Operators

import graft.SparkEntry._

/** Driver-contract entries: training-data pipeline: dedup, similarity, text analysis, multimodal, sampling, cleaning.
  *
  * Pure move out of the SparkEntry registry (round 15): the entry and
  * oracle text is byte-identical to its former in-line spelling; the
  * combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object AnalyticsEntries {

  /** The crawl-pipeline micro-batch fixture shared by
    * `pipe_crawl_stream` (rows) and `pipe_warc_crawl_stream` (the same
    * rows shipped as WARC files): batch 0 = token-reversed docs (new);
    * batch 1 = corpus dups, perturbed batch-0 copies, an intra-batch
    * near-pair, blocked-domain docs, and boilerplate-only pages. */
  private def crawlFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val rev = concat_ws(" ", reverse(split(trim(lower(col("text"))), "\\s+")))
    def wrap(t: Column): Column = concat(
      lit("<html><head><script>var a=1;</script></head><body><p>"), t,
      lit("</p></body></html>"))
    def goodUrl(idOff: Long): Column = concat(
      lit("https://news.example/article/"),
      (col("doc_id") + idOff).cast("string"))
    def part(mod: Int, idOff: Long, url: Column, body: Column): DataFrame =
      docs.where(col("doc_id") % mod === 0)
        .select((col("doc_id") + idOff).as("doc_id"), url.as("url"),
          wrap(body).as("html"))
    val b0 = part(31, 200000000L, goodUrl(200000000L), rev)
    val b1 = part(23, 100000000L, goodUrl(100000000L),
        concat(col("text"), lit(" shared tail marker words here")))
      .unionByName(part(31, 300000000L, goodUrl(300000000L),
        concat(rev, lit(" extra trailing words"))))
      .unionByName(part(29, 400000000L, goodUrl(400000000L),
        concat(rev, lit(" planted tail one"))))
      .unionByName(part(29, 500000000L, goodUrl(500000000L),
        concat(rev, lit(" planted tail two"))))
      .unionByName(part(13, 600000000L,
        concat(lit("https://ads.evil.example/article/"),
          (col("doc_id") + 600000000L).cast("string")), col("text")))
      .unionByName(part(17, 700000000L, goodUrl(700000000L), lit("too short")))
    (b0, b1)
  }

  private def crawlSign: DataFrame => DataFrame = d =>
    Dedup.minHashSignaturesParityFromText(d, col("doc_id"), col("text"), 3, 12)

  /** Stage dataframes as single parquet files with increasing mtimes so
    * `maxFilesPerTrigger = 1` delivers them as ordered micro-batches. */
  private[entries] def stageOrderedBatches(prefix: String, batches: Seq[DataFrame]): String = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val inDir = cleanupOnExit(Files.createTempDirectory(s"${prefix}_in"))
    // the per-batch staging writes are independent jobs — overlap them
    // (guide §2.6); batch order is carried by the planted mtimes, not by
    // write completion order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    batches.zipWithIndex.map { case (df, i) =>
      Future {
        val tmp = Files.createTempDirectory(s"${prefix}_half")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val dst = inDir.resolve(s"batch$i.parquet")
        Files.copy(firstParquetPart(tmp), dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 1000L))
        deleteDirTree(tmp)
      }
    }.foreach(Await.result(_, Duration.Inf))
    inDir.toString
  }

  private[entries] def crawlVerdicts(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .select(col("batch").cast("int").as("batch_id"), col("doc_id"),
        col("verdict"), col("dup_of"))
      .dropDuplicates("batch_id", "doc_id")
      .orderBy("doc_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- analytics headliners (Spark built-ins; bench anchors) -----
    "q1_pricing_summary" -> ((s, dir) => q1PricingSummary(s, dir)),
    "q3_shipping_priority" -> ((s, dir) => q3ShippingPriority(s, dir)),
    "q5_region_revenue" -> ((s, dir) => q5RegionRevenue(s, dir)),

    // ----- training-data pipeline: dedup -----
    "dd_exact" -> ((s, dir) =>
      Dedup.exact(T(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("text_hash")),

    "dd_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashNearDups(T(s, dir, "documents"), col("doc_id"), col("text"),
          shingleN = 3, k = 16, bands = 8, threshold = 0.05)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 5).as("jaccard_r"))
        .orderBy("doc_a", "doc_b")),

    "dd_minhash_lsh_parity" -> ((s, dir) => {
      // The standalone LSH near-dup stage under the PARITY hash family
      // (the fuzzy funnel's machinery surfaced as its own operator):
      // near-dup plants (every 23rd doc, 5 appended words, Jaccard
      // ~0.9) sign with k=12 md5-affine minhashes, band r=2 with hot
      // buckets capped, and exact-Jaccard verify at 0.5. Since round 17
      // BOTH families are fully oracled (dd_minhash_lsh replays the
      // production xxhash64 via XxHashMacros); this twin keeps the
      // cheap md5-affine certification leg.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(col("text"), lit(" shared tail marker words here")).as("text")))
      val sh = Dedup.shingled(corpus, col("doc_id"), col("text"), 3)
        .localCheckpoint(true)
      val cands = Dedup.lshCandidates(
        Dedup.minHashSignaturesParity(sh, 12), 12, 6, 1000)
      Dedup.verifyJaccard(cands, sh).where(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 5).as("jaccard_r"))
        .orderBy("doc_a", "doc_b")
    }),

    "dd_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), col("doc_id"), col("text"),
          n = 3, threshold = 0.05, maxDf = 100)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 5).as("jaccard_r"))
        .orderBy("doc_a", "doc_b")),

    "dd_simhash" -> ((s, dir) =>
      Dedup.simHash(T(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "dd_simhash_parity" -> ((s, dir) =>
      // The engine-parity simhash twin: 48-bit md5 token prefixes supply
      // the per-token bits — the cheap certification leg (the 64-bit
      // xxhash64 variant above is ALSO fully oracled since round 17).
      Dedup.simHashParity(T(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // Driver-checkable LSH quality assertions: recall vs the exact
    // (oracle-verified) counterpart, plus precision-by-construction.
    "dd_minhash_recall" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      // one shingling pass feeds both the exact and the LSH method.
      // Recall is measured over exact pairs AT/ABOVE the banding design
      // threshold (b=8, r=2 -> S-curve midpoint (1-2^(-1/8))^(1/2) ~
      // 0.29; 0.2 bounds it): pairs below the design point have
      // near-zero collision probability BY CONSTRUCTION — that is what
      // choosing banding parameters means — so they are out of
      // contract (at sf0.1 a [0.05, 0.2) tail of border pairs exists
      // and would misread as lost recall).
      // eager localCheckpoint, NOT cache(): the shingle set feeds ~10
      // independent query stages across the two legs (df cap, pair join
      // sides, signature agg, band-join sides, verify sets), and under
      // AQE those materialize concurrently against a lazily-populated
      // InMemoryRelation — racing consumers each recompute the full
      // shingling DAG (measured: the scan+distinct map stage ran ~12x,
      // 25 s vs 6 s for the checkpoint spelling, identical output).
      val sh = Dedup.shingled(docs, col("doc_id"), col("text"), 3).localCheckpoint(true)
      // defs, not vals: both legs take eager internal pins at
      // construction (the pruned-shingle and signature tables), and
      // recallOf's by-name parameters overlap the full leg pipelines —
      // a val binding would serialize the pins before the overlap starts
      def exact = Dedup.ngramJaccardFromShingles(sh, 0.2, maxDf = 100).select("doc_a", "doc_b")
      def lsh = Dedup.minHashNearDupsFromShingles(sh, 16, 8, 0.05).select("doc_a", "doc_b")
      // ONE evaluation of each DAG (the recallOf shape): the pair sets
      // are tiny; count + join-count would run both plans twice
      val (nExact, hit) = recallOf(exact, lsh)
      // an empty denominator is a vacuously satisfied contract, not NaN
      Seq(("minhash_recall_ge_75", nExact,
        nExact == 0 || hit.toDouble / nExact >= 0.75))
        .toDF("check", "n_exact", "ok")
    }),

    "ann_lsh_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val bf = Similarity.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val lsh = Similarity.lshTopK(emb, queries, dim = 64, k = 5).select("query_id", "vec_id")
      val (n, hit) = recallOf(bf, lsh)
      // This synthetic corpus is adversarial for LSH: random Gaussian
      // vectors put the true top-5 at cos ~0.3, where banded collision
      // probability is barely above noise (measured 0.36-0.48 across
      // SFs). 0.25 pins the floor without loosening the buckets into a
      // de-facto cross join; the clustered-data unit test holds the
      // >= 2/3 recall bar real embedding corpora give.
      Seq(("ann_recall_at5_ge_25", n, hit.toDouble / n >= 0.25))
        .toDF("check", "n_exact", "ok")
    }),

    "dd_embed_lsh_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      // Pin both pair sets: exact feeds THREE actions (its count, the
      // hit join, the anti-join) and lsh two — unpinned, each action
      // re-evaluated the full all-pairs / banded DAG. The two legs are
      // independent pipelines, so their pins run overlapped (guide §2.6).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val exactF = Future {
        Similarity.cosineNearDupsExact(emb, 0.4).select("vec_a", "vec_b")
          .localCheckpoint(true)
      }
      val lsh = Similarity.cosineNearDups(emb, 64, 0.4).select("vec_a", "vec_b")
        .localCheckpoint(true)
      val exact = Await.result(exactF, Duration.Inf)
      val nExact = exact.count()
      val hit = exact.join(lsh, Seq("vec_a", "vec_b")).count()
      val spurious = lsh.join(exact, Seq("vec_a", "vec_b"), "left_anti").count()
      // 0.4 is far below the near-dup regime the banding targets (scaladoc
      // documents the recall math); assert the documented floor AND that
      // the verify stage keeps precision exact (no spurious pairs).
      Seq(("embed_lsh_recall_ge_15_precision_1", nExact,
        hit.toDouble / nExact >= 0.15 && spurious == 0))
        .toDF("check", "n_exact", "ok")
    }),

    "dd_simhash_invariance" -> ((s, dir) => {
      // Case/whitespace invariance proven on constructed variants (the
      // corpus has no planted duplicates): upper-cased, padded text must
      // fingerprint identically.
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val variant = docs.select(col("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text"))
      val a = Dedup.simHash(docs, col("doc_id"), col("text"))
        .withColumnRenamed("simhash", "fp_a")
      val b = Dedup.simHash(variant, col("doc_id"), col("text"))
        .withColumnRenamed("simhash", "fp_b")
      a.join(b, "doc_id")
        .select(col("doc_id"), (col("fp_a") === col("fp_b")).as("invariant"))
        .orderBy("doc_id")
    }),

    // ----- training-data pipeline: similarity search -----
    "ann_bruteforce_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("vec_id"), col("rank"), round(col("cos"), 5).as("cos_r"))
        .orderBy("query_id", "rank")
    }),

    "ann_parity_topk" -> ((s, dir) => {
      // Integer-parity ANN ranking: micro-unit quantization + exact
      // int64 inner products + vec_id tie-break, so DuckDB replays the
      // FULL ranking bit-for-bit (the certification leg for the top-k
      // machinery; the float ann_* variants keep recall contracts).
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.quantizedTopK(emb, queries, 5)
        .orderBy("query_id", "rank")
    }),

    "ann_hard_negatives" -> ((s, dir) => {
      // Contrastive triplet mining over the labeled embedding corpus:
      // per anchor, the top same-label positive and the 3 most-similar
      // cross-label hard negatives with the pos-neg margin. The oracle
      // recomputes every cosine, both rank windows, and the margins.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label"))
      Similarity.mineTriplets(emb, queries, kNeg = 3)
        .select(col("query_id"), col("pos_id"), round(col("pos_cos"), 5).as("pos_cos_r"),
          col("neg_id"), round(col("neg_cos"), 5).as("neg_cos_r"), col("neg_rank"),
          round(col("margin"), 5).as("margin_r"))
        .orderBy("query_id", "neg_rank")
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      // Integer-parity LSH (round 16): md5-derived integer hyperplanes,
      // exact int64 sign bits, 4x4-bit band buckets, int64 in-bucket
      // ranking — the last float ANN top-k brought under the oracle.
      // The float production path (Similarity.lshTopK, xxhash sign
      // sketches) keeps its quality contract in ann_lsh_recall.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.lshIntTopK(emb, queries, k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // Integer-parity IVF (round 16): deterministic seed+one-Lloyd-step
      // integer centroids, exact int64 assignment/probing/ranking — the
      // ann_sq8_topk device extended to the clustered index, so DuckDB
      // replays train → assign → probe → rank bit-for-bit. The float
      // production path (Similarity.ivfTopK, k-means-trained) keeps its
      // quality contract in ann_ivf_recall.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfIntTopK(emb, queries, k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_matryoshka_recall" -> ((s, dir) => {
      // Matryoshka-style truncated-dimension retrieval: score with only
      // the leading 48 of 64 dims (a 25% FLOP cut; MRL-trained models
      // make the prefix carry most of the signal — these synthetic
      // embeddings have no such structure, so the measured 0.44-0.52
      // recall is the honest un-trained floor) and pin recall@10
      // against the full-dimension exact top-k.
      import s.implicits._
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val bf = Similarity.bruteForceTopK(emb, queries, 10).select("query_id", "vec_id")
      val embT = emb.withColumn("embedding", slice(col("embedding"), 1, 48))
      val qT = queries.withColumn("query_vec", slice(col("query_vec"), 1, 48))
      val tr = Similarity.bruteForceTopK(embT, qT, 10).select("query_id", "vec_id")
      val (n, hit) = recallOf(bf, tr)
      Seq(("ann_matryoshka48_recall_at10_ge_30", n, hit.toDouble / n >= 0.30))
        .toDF("check", "n_exact", "ok")
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val bf = Similarity.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val ivf = Similarity.ivfTopK(emb, queries, 5).select("query_id", "vec_id")
      val (n, hit) = recallOf(bf, ivf)
      // measured 0.52-0.72 across SFs while scoring ~nProbe/nLists = 25%
      // of the corpus; 0.4 pins the floor
      Seq(("ann_ivf_recall_at5_ge_40", n, hit.toDouble / n >= 0.4))
        .toDF("check", "n_exact", "ok")
    }),

    "ann_ivfpq_topk" -> ((s, dir) => {
      // Integer-parity IVFADC (round 16): coarse integer IVF + residual
      // integer codebooks, score = dot(q, c_list) + Σ_s dot(q_sub,
      // book(s, code)) — the exact Jegou IVFADC decomposition with every
      // term int64, fully DuckDB-replayable. The float production path
      // (Similarity.ivfPqQueryFromCodes, k-means + exact rerank) keeps
      // its quality contract in ann_ivfpq_recall.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfPqIntTopK(emb, queries, k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = normEmbeddings(s, dir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val bf = Similarity.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val got = Similarity.ivfPqQueryFromCodes(ivfPqCodes(s, dir), emb, queries,
          ivfPqIndex(s, dir), 5, rerank = 50)
        .select("query_id", "vec_id")
      val (n, hit) = recallOf(bf, got)
      // recall is capped by coarse-probe coverage (nProbe/nLists = 25% of
      // the corpus scanned); the floor pins the contract
      Seq(("ann_ivfpq_recall_at5_ge_30", n, hit.toDouble / n >= 0.3))
        .toDF("check", "n_exact", "ok")
    }),

    "ann_pq_topk" -> ((s, dir) => {
      // Integer-parity PQ ADC (round 16): per-subspace integer codebooks
      // (seed+one-step), m-code encode, pure compressed-domain ADC
      // ranking — no rerank stage, so the ENTIRE lookup-sum ranking sits
      // under the oracle. The float production path
      // (Similarity.pqTopKFromCodes, k-means codebooks + ADC+R rerank)
      // keeps its quality contract in ann_pq_recall.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.pqIntTopK(emb, queries, k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_pq_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = normEmbeddings(s, dir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val bf = Similarity.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val pq = Similarity.pqTopKFromCodes(pqCodes(s, dir), emb, queries,
          pqModel(s, dir), 5, rerank = 50)
        .select("query_id", "vec_id")
      val (n, hit) = recallOf(bf, pq)
      // measured 1.00 at sf0.001/sf0.01 (ADC@50 shortlist covers the true
      // top-5 even on this adversarial Gaussian corpus); 0.6 pins the
      // floor with headroom for codebook variance across partitionings
      Seq(("ann_pq_recall_at5_ge_60", n, hit.toDouble / n >= 0.6))
        .toDF("check", "n_exact", "ok")
    }),

    "ann_sq8_topk" -> ((s, dir) => {
      // Trained 8-bit scalar quantization (the faiss SQ8 baseline — the
      // standard 4x memory reduction BEFORE product quantization):
      // per-dim [lo,hi] trained in one distributed agg pass, uint8
      // codes, symmetric integer code-dot ranking. FULLY oracled —
      // DuckDB replays the training extremes, the rounding, and every
      // exact int64 score (unlike the float ANN variants, which carry
      // recall contracts instead).
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val model = Similarity.sqTrain(emb)
      Similarity.sqTopK(
          Similarity.sqEncode(emb, model),
          Similarity.sqEncode(queries, model, vecCol = "query_vec"),
          model, 5)
        .orderBy("query_id", "rank")
    }),

    "ann_sq8_recall" -> ((s, dir) => {
      // Quality contract for the trained quantizer: symmetric SQ8
      // ranks (integer-reconstructed dot) must recover the
      // float-cosine top-5 on the normalized corpus; 0.6 pins the
      // floor with headroom for range variance across partitionings.
      // (The raw CODE dot fails this contract — the per-dim 1/delta^2
      // reweighting wrecks cosine ranking; that failure is what forced
      // the reconstructed scoring in Similarity.sqTopK.)
      import s.implicits._
      val emb = normEmbeddings(s, dir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val bf = Similarity.bruteForceTopK(emb, queries, 5)
        .select("query_id", "vec_id")
      val model = Similarity.sqTrain(emb)
      val sq = Similarity.sqTopK(
          Similarity.sqEncode(emb, model),
          Similarity.sqEncode(queries, model, vecCol = "query_vec"),
          model, 5)
        .select("query_id", "vec_id")
      val (n, hit) = recallOf(bf, sq)
      Seq(("ann_sq8_recall_at5_ge_60", n, hit.toDouble / n >= 0.6))
        .toDF("check", "n_exact", "ok")
    }),

    "dd_embed_cosine" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      Similarity.cosineNearDupsExact(emb, threshold = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 5).as("cos_r"))
        .orderBy("vec_a", "vec_b")
    }),

    "dd_embed_cosine_lsh" -> ((s, dir) => {
      // md5-hyperplane parity buckets + exact cosine verify (round 16):
      // the whole candidate-generation AND verify pipeline replays in
      // DuckDB. The xxhash-bucketed production path
      // (Similarity.cosineNearDups) keeps its contract in
      // dd_embed_lsh_recall.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      Similarity.cosineNearDupsParity(emb, threshold = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 5).as("cos_r"))
        .orderBy("vec_a", "vec_b")
    }),

    // ----- training-data pipeline: text analysis -----
    "txt_tokens" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    "txt_quality" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(T(s, dir, "documents"), col("text"), col("doc_id"))
        .orderBy("doc_id")),

    "txt_langid" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "txt_langid_profile" -> ((s, dir) => {
      // Cavnar-Trenkle (1994) rank-profile language ID: char-trigram
      // top-50 profiles train on the EVEN half of genuinely-labeled
      // plants (the corpus' own lang labels sit on identical word
      // salad, so plants carry the real per-language text — with
      // accented and CJK scripts); the odd half of plants AND corpus
      // classifies by the out-of-place measure. Plant rows must land
      // on the diagonal; salad rows disperse deterministically. The
      // oracle recomputes profiles, ranks, penalties, and argmins.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val plantBase = docs.where(col("doc_id") % 17 === 0)
      val plants = LangPhrases.zipWithIndex.map { case ((l, phrase), li) =>
        plantBase.select(
          (lit(900000L) + col("doc_id") * 5 + li).as("doc_id"),
          lit(l).as("lang"),
          concat_ws("", array_repeat(lit(phrase),
            (pmod(col("doc_id"), lit(3)) + 2).cast("int"))).as("text"))
      }.reduce(_ unionByName _)
      val all = docs.unionByName(plants)
      val profiles = TextAnalysis.languageProfiles(
        plants.where(col("doc_id") % 2 === 0), col("lang"), col("text"))
      TextAnalysis.classifyByProfile(
          all.where(col("doc_id") % 2 === 1), col("doc_id"), col("text"), profiles)
        .join(all.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
        .groupBy((col("doc_id") >= 900000L).as("is_plant"),
          col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"), sum("distance").as("dist_sum"))
        .orderBy("is_plant", "true_lang", "pred_lang")
    }),

    "txt_compress_contract" -> ((s, dir) => {
      // zlib compression-ratio quality signal (the Data-Juicer /
      // MassiveText-style redundancy filter): planted repetitive text,
      // the prose corpus, and hex-noise plants must order strictly by
      // ratio. Deflate bytes are JVM-deterministic but not SQL-
      // reproducible, so the oracle certifies the ORDERING contract
      // (measured margins at sf0.01: repeat ≤ 58k ppm, prose ≥ 398k,
      // noise 587k-607k) plus corpus-derived class counts.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val repeat = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("lorem ipsum dolor sit amet " * 30),
            col("doc_id").cast("string")).as("text"))
      val noise = docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 650000).as("doc_id"),
          concat((0 until 10).map(i =>
            md5(concat(col("doc_id").cast("string"), lit(s":$i")))): _*).as("text"))
      val r = TextAnalysis.compressionRatio(
          docs.unionByName(repeat).unionByName(noise), col("doc_id"), col("text"))
        .withColumn("cls", when(col("doc_id") >= 650000, "noise")
          .when(col("doc_id") >= 600000, "repeat").otherwise("salad"))
      r.groupBy("cls").agg(count(lit(1)).as("n"),
          min("ratio_ppm").as("mn"), max("ratio_ppm").as("mx"),
          expr("percentile(ratio_ppm, 0.5)").as("md"))
        .agg(
          max(when(col("cls") === "repeat", col("n"))).as("n_repeat"),
          max(when(col("cls") === "salad", col("n"))).as("n_salad"),
          max(when(col("cls") === "noise", col("n"))).as("n_noise"),
          (max(when(col("cls") === "repeat", col("mx"))) <
            max(when(col("cls") === "salad", col("mn")))).as("repeat_lt_prose"),
          (max(when(col("cls") === "salad", col("md"))) <
            max(when(col("cls") === "noise", col("md")))).as("prose_lt_noise_median"),
          (max(when(col("cls") === "repeat", col("mx"))) < 200000L).as("repeat_band_ok"),
          (max(when(col("cls") === "noise", col("mn"))) > 450000L).as("noise_band_ok"))
    }),

    "txt_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "txt_fingerprint_invariance" -> ((s, dir) =>
      // The rolling hash must ignore case/leading whitespace but react to
      // any content change (order-sensitive chain).
      T(s, dir, "documents").select(col("doc_id"),
          (TextAnalysis.fingerprint(col("text")) ===
            TextAnalysis.fingerprint(concat(lit("  "), upper(col("text"))))).as("case_ws_invariant"),
          (TextAnalysis.fingerprint(col("text")) =!=
            TextAnalysis.fingerprint(concat(col("text"), lit(" xyzzy")))).as("content_sensitive"))
        .orderBy("doc_id")),

    "txt_fingerprint_parity" -> ((s, dir) => {
      // The engine-parity fingerprint: 48-bit md5 token prefixes through
      // the packed double polynomial fold (the codegen'd poly_fingerprint
      // kernel) — the cheap certification leg (the xxhash64 chain is
      // ALSO fully oracled since round 17, via XxHashMacros).
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintParity(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ----- training-data pipeline: multimodal plumbing -----
    "dd_bloom_dedup" -> ((s, dir) => {
      // Dolma-style cross-shard Bloom dedup: the already-ingested shard
      // (doc_id % 3 == 0) folds its 10-token paragraphs into a 4096-bit
      // filter (k=3, parity hash family); the incoming shard — plus
      // re-crawled exact copies of every 21st ingested doc — probes it.
      // One-sided: every true re-crawl paragraph flags (n_flagged >=
      // n_true always); the small bit array makes false positives
      // deterministic and visible, and the oracle replays the exact
      // bit array, probe, and truth columns.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      def paras(df: DataFrame): DataFrame = df
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) > 0)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), floor((size(col("__t")) + 9) / 10) - 1),
          i => concat_ws(" ", slice(col("__t"), i * 10 + 1, lit(10))))).as("para"))
        .distinct()
      val ref = docs.where(col("doc_id") % 3 === 0)
      val cands = docs.where(col("doc_id") % 3 =!= 0)
        .unionByName(ref.where(col("doc_id") % 21 === 0)
          .select((col("doc_id") + 950000).as("doc_id"), col("text")))
      val refParas = paras(ref)
      val bits = Dedup.bloomBits(refParas, col("para"), mBits = 4096L, k = 3)
      val probed = Dedup.bloomProbe(paras(cands), col("doc_id"), col("para"),
        bits, mBits = 4096L, k = 3)
      val truth = refParas.select(col("para").as("key")).distinct()
        .withColumn("__t", lit(1))
      probed.join(truth, Seq("key"), "left")
        .groupBy("id")
        .agg(count(lit(1)).as("n_paras"),
          sum(col("possibly_present").cast("long")).as("n_flagged"),
          count(col("__t")).as("n_true"))
        .select(col("id").as("doc_id"), col("n_paras"), col("n_flagged"),
          col("n_true"), (col("n_flagged") > 0).as("any_flagged"),
          (col("n_true") > 0).as("any_true"))
        .orderBy("doc_id")
    }),

    "dd_url_dedup" -> ((s, dir) => {
      // URL-canonicalization dedup (the CommonCrawl stage-0): each
      // logical page (page = doc_id div 3) is planted as THREE crawl
      // spellings — tracking params + unsorted query + fragment /
      // uppercase scheme+host + default port / plain unsorted — with
      // https:443 twists every 5th page and a no-path group every
      // 11th. Canonicalization collapses each page's spellings to one
      // key; dedup keeps the minimum doc id. The oracle replays the
      // URL construction AND the normalization in SQL.
      val page = expr("doc_id div 3")
      val v = pmod(col("doc_id"), lit(3))
      val h = concat(lit("www.s"), pmod(page, lit(7)), lit(".example.com"))
      val sec = pmod(page, lit(5)) === 0
      val sch = when(sec, "https://").otherwise("http://")
      val schUp = when(sec, "HTTPS://").otherwise("HTTP://")
      val prt = when(sec, ":443").otherwise(":80")
      val url = when(pmod(page, lit(11)) === 0,
          when(v === 0, concat(lit("http://"), h, lit("#frag")))
            .when(v === 1, concat(lit("HTTP://"), upper(h), lit(":80/")))
            .otherwise(concat(lit("http://"), h)))
        .otherwise(
          when(v === 0, concat(sch, h, lit("/p/"), page,
              lit("?id="), page, lit("&ref=rss&b=2&a=1#top")))
            .when(v === 1, concat(schUp, upper(h), prt, lit("/p/"), page,
              lit("?a=1&b=2&id="), page, lit("&utm_campaign=x")))
            .otherwise(concat(sch, h, lit("/p/"), page,
              lit("?a=1&id="), page, lit("&b=2"))))
      val crawls = T(s, dir, "documents").select(col("doc_id"), url.as("url"))
      Dedup.urlDedup(crawls, col("doc_id"), col("url"))
        .orderBy("canonical_url")
    }),

    "dd_cluster" -> ((s, dir) => {
      // Near-dup pairs (exact n-gram Jaccard, the oracle-provable
      // candidate source) -> connected components -> per-doc cluster id
      // with the min-id canonical flag. Singletons cluster to themselves.
      val docs = T(s, dir, "documents")
      // maxDf = 100: identical pair set on this corpus (clone shingles
      // are rare), but the shingle self-join intermediate shrinks ~4x —
      // the Σdf² term is the whole cost of the exact companion
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          n = 3, threshold = 0.05, maxDf = 100)
        .select("doc_a", "doc_b")
      Dedup.connectedComponents(pairs, docs.select("doc_id"))
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") === col("doc_id")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    "dd_line_dedup" -> ((s, dir) => {
      // C4-style boilerplate-line removal: a newsletter header planted
      // on every 3rd doc and a rights footer on every 4th cross the
      // 10-distinct-docs threshold and are stripped corpus-wide; a
      // once-per-50-docs promo line is rare and survives, as does every
      // (unique) original text. Output hashes the surviving text so the
      // compare is exact on content AND line order.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val multi = docs.withColumn("text", concat(
        when(col("doc_id") % 3 === 0, lit("Subscribe to our newsletter\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("\nAll rights reserved")).otherwise(lit("")),
        when(col("doc_id") % 50 === 0,
          concat(lit("\npromo code "), col("doc_id"))).otherwise(lit(""))))
      Dedup.dedupLines(multi, col("doc_id"), col("text"), maxDocs = 10)
        .select(col("doc_id"), md5(col("text")).as("text_hash"),
          length(col("text")).as("len"))
        .orderBy("doc_id")
    }),

    "txt_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(T(s, dir, "documents"), col("text"), 20)),

    "txt_classifier_score" -> ((s, dir) => {
      // Model-based quality filter: a 64-bucket hashed-linear classifier
      // with deterministic integer pseudo-weights w(b) = (b*37) % 13 - 6
      // (production loads trained weights; the DATAFLOW — broadcast
      // model, narrow hash-projection, integer-exact margins — is what
      // runs at 100 TB). The oracle re-derives every margin.
      import s.implicits._
      val weights = (0L until 64L).map(b => (b, (b * 37) % 13 - 6))
        .toDF("bucket", "weight")
      TextAnalysis.hashedLinearScore(T(s, dir, "documents"), col("doc_id"),
          col("text"), weights, buckets = 64, bias = 2L)
        .orderBy("doc_id")
    }),

    "txt_classifier_train" -> ((s, dir) => {
      // TRAINING the model-based quality filter (the DCLM/fastText
      // step that produces txt_classifier_score's weight table): docs
      // divisible by 11 carry planted marker tokens and the label 1;
      // a 3-epoch integer batch perceptron over 64 hashed binary
      // features learns to separate them. Batch updates are sums, so
      // the weight table is exactly reproducible and the oracle
      // replays all three epochs (margins, errors, per-bucket
      // gradients) from scratch.
      val docs = T(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" premqual marker signal tokens")))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 11 === 0).as("label"))
      val (wts, _) = TextAnalysis.trainHashedPerceptron(
        docs, col("doc_id"), col("text"), col("label"),
        buckets = 64, epochs = 3)
      wts.where(col("w") =!= 0).orderBy("bucket")
    }),

    "txt_sketch_contract" -> ((s, dir) =>
      // HLL cardinality + approx-percentile error contracts: at 100 TB
      // only the sketch side runs (fixed-size partial aggregates); here
      // the exact companions certify the bound. The oracle re-derives
      // exact_vocab independently and pins the certified booleans.
      Sketches.sketchContracts(T(s, dir, "documents"), col("text"), col("n_chars"))),

    "txt_tokens_bpe" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    "txt_perplexity" -> ((s, dir) =>
      // CCNet-style hashed bigram-LM quality filter: the model trains
      // on the 'en' slice (two broadcast count tables) and every doc
      // scores its mean per-bigram negative log-likelihood in integer
      // micro-units. The oracle retrains the model and rescores every
      // document.
      TextAnalysis.bigramPerplexity(T(s, dir, "documents"),
          T(s, dir, "documents").where(col("lang") === "en"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "txt_dup_spans" -> ((s, dir) =>
      // Exact repeated-span detection (the ExactSubstr-dedup primitive,
      // k-gram-bucketed so it distributes): 20-token windows hash, a
      // hash in >= 2 docs marks its span, per-doc spans merge into
      // maximal regions. Planted partial copies share their prefix,
      // and the corpus's own natural cross-doc sentence repeats flag
      // too; short docs carry no windows. The oracle recomputes every
      // window hash, the duplicate set, and the interval merge.
      TextAnalysis.duplicateSpans(spanDocs(s, dir), col("doc_id"), col("text"), k = 20)
        .orderBy("doc_id")),

    "pipe_clean" -> ((s, dir) =>
      CleanPipeline.clean(plantedDocs(s, dir), col("doc_id"), col("text"))
        .select("doc_id", "copies")
        .orderBy("doc_id")),

    "pipe_clean_funnel" -> ((s, dir) =>
      CleanPipeline.funnel(plantedDocs(s, dir), col("doc_id"), col("text"))),

    "txt_chunks" -> ((s, dir) =>
      // Token-window chunking: 32-token windows, 8-token overlap (the
      // documents corpus averages ~55 tokens, so most docs split into
      // 2-3 overlapping chunks); chunk text hashed to bound the payload.
      TextAnalysis.chunkDocuments(T(s, dir, "documents"), col("doc_id"), col("text"),
          maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"), col("start_pos"),
          md5(col("chunk_text").cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    "txt_bpe_merges" -> ((s, dir) =>
      // Learned subword merge table (30 merges) — deterministic
      // (lexicographic tie-break, integral counts). Fully oracled since
      // round 17: the DuckDB replay unrolls all 30 rounds as
      // MATERIALIZED CTE pairs (see bpeMergesOracle).
      TextAnalysis.learnBpeMerges(T(s, dir, "documents"), col("text"), nMerges = 30)
        .orderBy("rank")),

    "txt_bpe_learn_contract" -> ((s, dir) =>
      // The FIRST merge is SQL-expressible: the corpus-wide argmax
      // adjacent character pair weighted by word frequency. The oracle
      // recomputes it independently in DuckDB. (maxWords cap left at its
      // 100k default — far above the corpus vocabulary, so the oracle's
      // uncapped count sees identical mass.)
      TextAnalysis.learnBpeMerges(T(s, dir, "documents"), col("text"), nMerges = 1)
        .select("left", "right", "pair_count")),

    "txt_bpe_encode_contract" -> ((s, dir) => {
      // Encode the corpus with the learned merges. Per doc the un-merged
      // symbol count is SQL-exact (letters per letter-word, 1 per other
      // token); the encoded count must stay within [n_tokens, n_before].
      import s.implicits._
      val merges = TextAnalysis.learnBpeMerges(T(s, dir, "documents"), col("text"),
          nMerges = 30)
        .select("left", "right", "rank").as[(String, String, Int)].collect().toSeq
      val encCount = TextAnalysis.bpeEncodedCount(merges)
      val t = TextAnalysis.tokens(col("text"))
      val nBefore = aggregate(
        transform(t, w => when(w.rlike("^[a-z]+$"), length(w)).otherwise(lit(1))),
        lit(0), (a, x) => a + x).cast("long")
      T(s, dir, "documents")
        .select(col("doc_id"), nBefore.as("n_before"), size(t).as("n_toks"),
          encCount(col("text")).as("n_enc"))
        .select(col("doc_id"), col("n_before"),
          (col("n_enc") <= col("n_before") && col("n_enc") >= col("n_toks")).as("ok"))
        .orderBy("doc_id")
    }),

    "txt_unigram_learn_contract" -> ((s, dir) =>
      // Unigram-LM trainer (Kudo 2018), oracle anchor (round 16): the
      // seed-piece weight table — every substring (≤4 chars) of every
      // letter-word weighted by word frequency × occurrences, top-30 by
      // (weight desc, piece asc) — is the trainer's first phase and is
      // exactly SQL-replayable; DuckDB recomputes it independently. The
      // EM rounds past the seed are iterative (like BPE ranks ≥ 2) and
      // certified through the encode contract below.
      graft.analytics.Unigram.seedPieces(T(s, dir, "documents"), col("text"))),

    "txt_unigram_encode_contract" -> ((s, dir) => {
      // Viterbi-encode the corpus with the EM-trained vocabulary. Per
      // doc the bounds are SQL-exact: n_before (one symbol per char of
      // each letter-word, 1 per other token) and n_floor (ceil(len/4)
      // per letter-word — no segmentation can beat max-length pieces).
      // ok pins floor ≤ encoded ≤ chars; a broken trainer (missing
      // chars, unnormalized probs) blows the bound or fails coverage.
      import s.implicits._
      val vocab = graft.analytics.Unigram.learnVocab(
        T(s, dir, "documents"), col("text"))
      val encCount = graft.analytics.Unigram.encodedCount(vocab)
      val t = TextAnalysis.tokens(col("text"))
      val nBefore = aggregate(
        transform(t, w => when(w.rlike("^[a-z]+$"), length(w)).otherwise(lit(1))),
        lit(0), (a, x) => a + x).cast("long")
      val nFloor = aggregate(
        transform(t, w => when(w.rlike("^[a-z]+$"),
          (length(w) + lit(3)).cast("int").divide(lit(4)).cast("int")).otherwise(lit(1))),
        lit(0), (a, x) => a + x).cast("long")
      T(s, dir, "documents")
        .select(col("doc_id"), nBefore.as("n_before"), nFloor.as("n_floor"),
          encCount(col("text")).as("n_enc"))
        .select(col("doc_id"), col("n_before"), col("n_floor"),
          (col("n_enc") >= col("n_floor") && col("n_enc") <= col("n_before")).as("ok"))
        .orderBy("doc_id")
    }),

    "txt_pack_sequences" -> ((s, dir) =>
      // Pretraining sequence packing: the corpus concatenated in doc_id
      // order and cut into 256-token sequences; one row per
      // (sequence, document-span), documents split at boundaries.
      TextAnalysis.packSequences(T(s, dir, "documents"), col("doc_id"), col("text"),
          contextLen = 256)
        .orderBy("seq_id", "doc_id")),

    "txt_rarity" -> ((s, dir) =>
      // Round the two ratio columns to 5 places (repo convention for every
      // double output — raw IEEE doubles defeat the driver's hash compare).
      TextAnalysis.rarityFeatures(T(s, dir, "documents"), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_corpus_freq"), 5).as("mean_corpus_freq_r"),
          round(col("hapax_frac"), 5).as("hapax_frac_r"),
          col("min_corpus_n"))
        .orderBy("doc_id")),

    "txt_repetition" -> ((s, dir) =>
      // Corpus plus planted degenerate docs (doc_id+400000: 30x-repeated
      // two-word phrase) — natural word-salad prose passes the Gopher
      // thresholds, the planted boilerplate must fail them.
      TextAnalysis.repetitionFeatures(repetitiveDocs(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_words"),
          round(col("distinct_frac"), 5).as("distinct_frac_r"),
          round(col("top_word_frac"), 5).as("top_word_frac_r"),
          round(col("top_bigram_frac"), 5).as("top_bigram_frac_r"),
          col("keep"))
        .orderBy("doc_id")),

    "txt_pii" -> ((s, dir) =>
      // Corpus plus planted PII carriers (doc_id+500000: an email and a
      // phone number appended) — originals must scan clean, plants must
      // count 1+1 and redact to placeholder text.
      TextAnalysis.piiFeatures(piiDocs(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "txt_card_pii" -> ((s, dir) =>
      // Luhn-validated card detection: plants carry three 13-16-digit
      // candidates of which exactly two pass the mod-10 checksum — only
      // those two count and redact; the failing run survives untouched.
      // The oracle replays the checksum with nested DuckDB list lambdas.
      TextAnalysis.cardPiiFeatures(cardDocs(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "txt_gopher_rules" -> ((s, dir) =>
      // The Gopher quality battery (Rae et al. 2021 §A1.1): seven rules
      // over the corpus plus planted bullet/ellipsis/symbol degenerates.
      // Ratios are single divisions of exact ints, rounded to 5 places
      // at the output boundary only.
      TextAnalysis.gopherRules(gopherDocs(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 5).as("mean_word_len_r"),
          round(col("symbol_ratio"), 5).as("symbol_ratio_r"),
          round(col("bullet_frac"), 5).as("bullet_frac_r"),
          round(col("ellipsis_frac"), 5).as("ellipsis_frac_r"),
          round(col("alpha_frac"), 5).as("alpha_frac_r"),
          col("stop_hits"), col("keep"))
        .orderBy("doc_id")),

    "dd_incremental" -> ((s, dir) => {
      // Incremental dedup — the continuous-crawl production shape: a
      // new BATCH probes the standing corpus band index (batch-vs-
      // corpus equi-join + batch self-join only; corpus never re-
      // pairs against itself). Plants: every 23rd doc arrives again
      // with an appended tail (dup_corpus), every 31st arrives token-
      // REVERSED (no shingle overlap -> new) plus a perturbed copy of
      // that reversal (dup_batch of the earlier batch id). Parity
      // (md5-affine) signatures so the oracle replays signing,
      // banding, caps, verification, and the verdict precedence.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val rev = concat_ws(" ", reverse(split(trim(lower(col("text"))), "\\s+")))
      val batch = docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 100000000).as("doc_id"),
          concat(col("text"), lit(" shared tail marker words here")).as("text"))
        .unionByName(docs.where(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 200000000).as("doc_id"), rev.as("text")))
        .unionByName(docs.where(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 300000000).as("doc_id"),
            concat(rev, lit(" extra trailing words")).as("text")))
      Dedup.incrementalNearDups(
          Dedup.minHashSignaturesParityFromText(docs, col("doc_id"), col("text"), 3, 12),
          Dedup.minHashSignaturesParityFromText(batch, col("doc_id"), col("text"), 3, 12),
          docs, batch, shingleN = 3, k = 12, bands = 6, threshold = 0.5)
        .orderBy("doc_id")
    }),

    "dd_incremental_stream" -> ((s, dir) => {
      // The incremental deduper as a continuous query with a GROWING
      // index: micro-batch 0 delivers token-reversed docs (all `new`,
      // admitted to the standing index); micro-batch 1 delivers (a)
      // tail-appended corpus docs -> dup_corpus of the ORIGINAL, (b)
      // perturbed copies of batch-0's reversals -> dup_corpus of the
      // batch-0 id (the growing-index proof: the per-arrival batch
      // operator would call these `new`), and (c) an intra-batch
      // near-pair on a fresh id family -> earlier id `new`, later
      // `dup_batch`. The oracle replays both batches in sequence,
      // including the index growth between them.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val rev = concat_ws(" ", reverse(split(trim(lower(col("text"))), "\\s+")))
      val b1 = docs.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 200000000).as("doc_id"), rev.as("text"))
      val b2 = docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 100000000).as("doc_id"),
          concat(col("text"), lit(" shared tail marker words here")).as("text"))
        .unionByName(docs.where(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 300000000).as("doc_id"),
            concat(rev, lit(" extra trailing words")).as("text")))
        .unionByName(docs.where(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 400000000).as("doc_id"),
            concat(rev, lit(" planted tail one")).as("text")))
        .unionByName(docs.where(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 500000000).as("doc_id"),
            concat(rev, lit(" planted tail two")).as("text")))
      // staging the input batches and seeding the standing state are
      // independent write pipelines — overlap them (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val inDirF = Future { stageOrderedBatches("graft_incr", Seq(b1, b2)) }
      val out = cleanupOnExit(
        java.nio.file.Files.createTempDirectory("graft_incr_out")).toString
      val sign = crawlSign
      Dedup.initIncrementalState(docs, s"$out/state", sign, 12, 6)
      val inDir = Await.result(inDirF, Duration.Inf)
      val stream = graft.streaming.Transforms.PathInput(
        inDir, b1.schema, maxFilesPerTrigger = Some(1)).stream(s)
      Dedup.incrementalNearDupsStream(stream, s"$out/state", s"$out/verdicts",
        s"$out/ckpt", sign, shingleN = 3, k = 12, bands = 6, threshold = 0.5)
      crawlVerdicts(s, s"$out/verdicts")
    }),

    "dd_containment" -> ((s, dir) => {
      // Asymmetric containment dedup: every 37th doc arrives again
      // WRAPPED in boilerplate (nav header + legal footer) — the
      // scraped-page shape where the original is ~fully contained in
      // the wrapper but symmetric Jaccard dilutes toward |A|/|B| and
      // misses it. Exact inverted-index pairs with the maxDf
      // stop-shingle cap; the oracle replays sizes, intersections, and
      // both containment directions.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val wrapped = docs.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(lit("site header navigation menu links home products "),
            col("text"),
            lit(" copyright footer terms privacy policy contact")).as("text"))
      Dedup.ngramContainmentPairs(docs.unionByName(wrapped),
          col("doc_id"), col("text"), n = 3, threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    }),

    "txt_warc_roundtrip" -> ((s, dir) => {
      // WARC (ISO 28500) build + parse round-trip: documents become 8
      // WARC files (warcinfo header + one HTTP response record per doc,
      // built with Catalyst string expressions), then the REAL
      // byte-walking parser — Content-Length-advancing, as the spec
      // requires — reads them back. The oracle never parses: it
      // recomputes every field (record index, URI, WARC content length,
      // HTTP status, body md5) directly from the table, so a parser
      // that mis-walks by even one octet hash-mismatches.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val files = graft.analytics.Warc.responseFiles(
        docs, col("doc_id") % 8, col("doc_id"), col("text"))
      graft.analytics.Warc.parseResponses(files, col("file_id"), col("warc"))(s)
        .toDF()
        .select(col("file_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"), col("http_status"),
          md5(col("body").cast("binary")).as("body_md5"))
        .orderBy("file_id", "rec_idx")
    }),

    "txt_html_extract" -> ((s, dir) => {
      // HTML -> text extraction (the WET stage): documents wrapped in a
      // deterministic page (title, style, script whose STRING contains
      // markup, comment, nav div, entity-bearing paragraphs), then the
      // fixed RE2-safe regex chain extracts text. The oracle replays
      // the synthesis AND the chain, so a drift in any pattern, the
      // chain order, or entity decoding hash-mismatches.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>body{color:#000}</style>" +
          "<script>var x=\"<p>not text</p>\";</script></head>" +
          "<body><!-- hidden comment --><div class=\"nav\">Home &amp; Links</div><p>"),
        col("text"),
        lit("</p><p>&quot;quoted&quot; &#39;apos&#39; &lt;tag&gt;&nbsp;end</p></body></html>"))
      val ext = TextAnalysis.htmlToText(html)
      docs.select(col("doc_id"),
          md5(ext.cast("binary")).as("text_md5"),
          length(ext).as("n_chars"),
          size(split(ext, "\n")).as("n_lines"))
        .orderBy("doc_id")
    }),

    "dd_url_blocklist" -> ((s, dir) => {
      // UT1-style URL gate: deterministic synthetic URLs (domain picked
      // by doc_id % 5, two tracking-ish paths), blocklist of one domain
      // (must block subdomains on a label boundary but not the
      // lookalike "notevil.example") and one path keyword. Every 19th
      // URL arrives SCHEME-LESS (a real crawl-frontier spelling) and
      // must fail closed through the same host/path split. One
      // codegen'd conditional; the oracle replays prefix stripping,
      // host extraction, suffix matching, and the keyword scan. Every
      // 13th URL carries a userinfo prefix ("user:pw@evil.example")
      // and every 17th a trailing-dot FQDN ("evil.example.") — the
      // classic blocklist-bypass spellings, both must fail CLOSED.
      val docs = T(s, dir, "documents").select(col("doc_id"))
      val domain = element_at(array(
        lit("good.example"), lit("evil.example"), lit("www.evil.example"),
        lit("notevil.example"), lit("news.example")),
        (col("doc_id") % 5 + 1).cast("int"))
      val path = when(col("doc_id") % 7 === 0, lit("/casino-bonus/page"))
        .otherwise(concat(lit("/article/"), col("doc_id").cast("string")))
      val url = concat(
        when(col("doc_id") % 19 === 0, lit("")).otherwise(lit("https://")),
        when(col("doc_id") % 13 === 0, lit("user:pw@")).otherwise(lit("")),
        domain,
        when(col("doc_id") % 17 === 0, lit(".")).otherwise(lit("")),
        path)
      docs.select(col("doc_id"), url.as("url"),
          Dedup.urlBlocked(url, Seq("evil.example"), Seq("casino")).as("blocked"))
        .orderBy("doc_id")
    }),

    "pipe_crawl_stream" -> ((s, dir) => {
      // Continuous crawl ingestion end-to-end: two micro-batches of raw
      // (doc_id, url, html) rows run URL gate -> HTML extraction ->
      // min-token quality gate -> growing-index incremental dedup.
      // Plants: batch 0 = token-reversed docs (new, admitted); batch 1 =
      // tail-appended corpus dups (dup_corpus of the original),
      // perturbed copies of batch-0 reversals (dup_corpus of the
      // batch-0 id — index growth), an intra-batch near-pair
      // (new + dup_batch), docs on a blocked ad domain (blocked_url,
      // never judged, never admitted), and boilerplate-only pages
      // (low_quality). The oracle replays gates, the extraction chain,
      // and the two-batch index growth.
      val (b0, b1) = crawlFixture(s, dir)
      // staging and state seeding are independent writes — overlap them
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val inDirF = Future { stageOrderedBatches("graft_crawl", Seq(b0, b1)) }
      val out = cleanupOnExit(
        java.nio.file.Files.createTempDirectory("graft_crawl_out")).toString
      val sign = crawlSign
      Dedup.initIncrementalState(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        s"$out/state", sign, 12, 6)
      val inDir = Await.result(inDirF, Duration.Inf)
      val stream = graft.streaming.Transforms.PathInput(
        inDir, b0.schema, maxFilesPerTrigger = Some(1)).stream(s)
      CleanPipeline.crawlStream(stream, s"$out/state", s"$out/verdicts",
        s"$out/ckpt", sign, blockedDomains = Seq("evil.example"),
        blockedPathWords = Seq("casino"), minTokens = 5,
        shingleN = 3, k = 12, bands = 6, threshold = 0.5)
      crawlVerdicts(s, s"$out/verdicts")
    }),

    "pipe_warc_crawl_stream" -> ((s, dir) => {
      // The crawl pipeline fed RAW WARC FILES — the literal CommonCrawl
      // shape: the same two micro-batches, but each arrives as WARC
      // bytes (4 files per batch, built by the Catalyst builder with
      // the row's url as WARC-Target-URI and its html as the HTTP
      // body); the real Content-Length-walking parser recovers the
      // rows inside foreachBatch. Verdicts are IDENTICAL to
      // pipe_crawl_stream — same oracle — so the WARC leg certifies
      // the full container->gates->dedup path end-to-end.
      val (b0, b1) = crawlFixture(s, dir)
      def files(b: DataFrame): DataFrame = graft.analytics.Warc.responseFiles(
        b, col("doc_id") % 4, col("doc_id"), col("html"), col("url"))
      // staging and state seeding are independent writes — overlap them
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val inDirF = Future {
        stageOrderedBatches("graft_wcrawl", Seq(files(b0), files(b1)))
      }
      val out = cleanupOnExit(
        java.nio.file.Files.createTempDirectory("graft_wcrawl_out")).toString
      val sign = crawlSign
      Dedup.initIncrementalState(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        s"$out/state", sign, 12, 6)
      val inDir = Await.result(inDirF, Duration.Inf)
      val stream = graft.streaming.Transforms.PathInput(
        inDir, files(b0).schema, maxFilesPerTrigger = Some(1)).stream(s)
      CleanPipeline.crawlStreamFromWarc(stream, s"$out/state",
        s"$out/verdicts", s"$out/ckpt", sign,
        blockedDomains = Seq("evil.example"),
        blockedPathWords = Seq("casino"), minTokens = 5,
        shingleN = 3, k = 12, bands = 6, threshold = 0.5)
      crawlVerdicts(s, s"$out/verdicts")
    }),

    "txt_c4_rules" -> ((s, dir) => {
      // C4 cleaning (Raffel et al. 2020): word-salad docs mostly fail
      // (no terminal punctuation), planted well-formed pages pass, and
      // plants carrying javascript lines / braces / lorem ipsum fail
      // their specific rules. cleaned_md5 pins the kept-line output.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val goodPage = C4GoodPage
      val plants = docs.where(col("doc_id") % 59 === 0)
        .select((col("doc_id") + 760000).as("doc_id"), lit(goodPage).as("text"))
        .union(docs.where(col("doc_id") % 61 === 0)
          .select((col("doc_id") + 770000).as("doc_id"),
            lit(goodPage + "\nPlease enable javascript to continue browsing.")
              .as("text")))
        .union(docs.where(col("doc_id") % 67 === 0)
          .select((col("doc_id") + 780000).as("doc_id"),
            lit(goodPage + " { config }").as("text")))
      TextAnalysis.c4Rules(docs.union(plants), col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    "txt_repetition_full" -> ((s, dir) => {
      // The complete Gopher repetition battery over the corpus plus the
      // phrase-repeat plants (doc_id+400000) and planted duplicate-line
      // docs (doc_id+740000). keep applies the published thresholds on
      // the unrounded fractions; outputs are rounded at the boundary.
      val docs = repetitiveDocs(s, dir)
        .union(T(s, dir, "documents").where(col("doc_id") % 47 === 0)
          .select((col("doc_id") + 740000).as("doc_id"),
            concat(lit("repeat line alpha\n" * 9), lit("tail distinct line"),
              lit(" "), col("text")).as("text")))
      TextAnalysis.repetitionSignals(docs, col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    "txt_heavy_hitters" -> ((s, dir) =>
      // Misra–Gries frequent-items contract (k=100): coverage of every
      // token above N/k and the N/k lower-bound error, certified
      // against the exact groupBy companion. Only partitioning-
      // independent facts are output; the oracle recomputes the exact
      // half and pins the guaranteed booleans.
      graft.analytics.Sketches.heavyHitterContract(
        T(s, dir, "documents"), col("text"), k = 100)),

    "txt_fertility" -> ((s, dir) =>
      // Tokenizer fertility per language: sub-tokens per word and bytes
      // per sub-token under the BPE-ish pre-tokenizer — exact long sums
      // per language, single-division ratios.
      TextAnalysis.tokenizerFertility(T(s, dir, "documents"), col("lang"), col("text"))
        .select(col("lang"), col("n_words"), col("n_subtokens"), col("n_bytes"),
          round(col("fertility"), 5).as("fertility_r"),
          round(col("bytes_per_subtoken"), 5).as("bytes_per_subtoken_r"))
        .orderBy("lang")),

    "dd_decontam" -> ((s, dir) => {
      // Eval set = every 97th doc; corpus = all documents plus planted
      // contaminated variants (doc_id+600000: an eval doc's full text
      // wrapped in fresh words). Plants MUST flag; eval originals flag
      // themselves; word-salad neighbours stay clean unless they truly
      // share an 8-gram (the oracle recomputes the same rule).
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.where(col("doc_id") % 97 === 0)
      val corpus = docs.union(evalSet.select((col("doc_id") + 600000).as("doc_id"),
        concat(lit("prelude words "), col("text"), lit(" coda words")).as("text")))
      Decontaminate.flagOverlap(corpus, evalSet, col("doc_id"), col("text"), n = 8)
        .orderBy("doc_id")
    }),

    "dd_semdedup" -> ((s, dir) => {
      // Embeddings plus exact clones (vec_id+100000 for vec_id<40; the
      // corpus has no natural cos>=0.8 pairs, so survivors == originals
      // and every clone is pruned by its lower-id twin).
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
        .select("vec_id", "embedding")
      val corpus = emb.union(emb.where(col("vec_id") < 40)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Similarity.semDedup(corpus, Similarity.headCentroids(emb, 8), threshold = 0.9)
        .orderBy("vec_id")
    }),

    // ----- training-data pipeline: SFT/chat-data curation -----

    "txt_dup_strip" -> ((s, dir) =>
      // Exact repeated-span REMOVAL (the cut half of ExactSubstr
      // dedup): same fixture as txt_dup_spans — planted partial copies
      // share the original's full text as a prefix, so the copy's
      // duplicated prefix region is cut (the ORIGINAL owns every
      // shared window by min doc_id) and only its unique tail
      // survives. The oracle recomputes owners, removable regions,
      // and reassembles every cleaned document for the md5.
      TextAnalysis.stripDuplicateSpans(spanDocs(s, dir), col("doc_id"),
          col("text"), k = 20)
        .orderBy("doc_id")),

    "txt_code_quality" -> ((s, dir) => {
      // StarCoder-style source filters over synthesized code-shaped
      // docs (one token per line): every 9th doc gains a 1200-char
      // minified line (max-line violation), every 11th an
      // auto-generated header (marker violation), every 13th a run of
      // short numeric lines (alpha-fraction violation), and every 17th
      // stays ONE unsplit prose line (mean-line violation — the
      // minified-single-line shape). The oracle recomputes every line
      // stat, both ppm ratios, and the keep rule.
      val docs = T(s, dir, "documents")
      val code = concat(
        when(col("doc_id") % 11 === 0, lit("// auto-generated\n")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, col("text"))
          .otherwise(regexp_replace(col("text"), " ", "\n")),
        when(col("doc_id") % 9 === 0, concat(lit("\n"), repeat(lit("x"), 1200)))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, concat(lit("\n"), repeat(lit("00;\n"), 1100)))
          .otherwise(lit("")))
      TextAnalysis.codeQuality(docs, col("doc_id"), code).orderBy("doc_id")
    }),

    "txt_license_detect" -> ((s, dir) => {
      // License gate: docs planted by doc_id % 10 with an SPDX MIT tag
      // (permissive), SPDX GPL-3.0-only (copyleft), an Apache prose
      // marker (permissive), a GNU GPL prose marker (copyleft), or an
      // unknown SPDX id; everything else classifies unknown. The
      // oracle replays the extraction and the full precedence ladder.
      val docs = T(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 10 === 1, lit(" SPDX-License-Identifier: MIT"))
          .when(col("doc_id") % 10 === 2, lit(" SPDX-License-Identifier: GPL-3.0-only"))
          .when(col("doc_id") % 10 === 3, lit(" Licensed under the Apache License, Version 2.0"))
          .when(col("doc_id") % 10 === 4, lit(" Released under the GNU General Public License."))
          .when(col("doc_id") % 10 === 5, lit(" SPDX-License-Identifier: X-Custom"))
          .otherwise(lit("")))
      TextAnalysis.licenseDetect(docs, col("doc_id"), planted).orderBy("doc_id")
    }),

    "dd_decontam_embed" -> ((s, dir) => {
      // SEMANTIC decontamination (companion of the n-gram dd_decontam):
      // eval set = vec_id % 97 vectors; corpus = all embeddings plus
      // exact eval copies planted at +600000 (must flag, like the eval
      // originals themselves); everything else flags only if it truly
      // clears cos >= 0.95 against some eval vector. Eval broadcasts —
      // the production plan, benchmarks are small.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
        .select("vec_id", "embedding")
      val evalSet = emb.where(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding"))
      val corpus = emb.unionByName(evalSet
        .select((col("eval_id") + 600000).as("vec_id"), col("embedding")))
      Decontaminate.flagEmbedOverlap(corpus, evalSet, thresholdU = 95000L)
        .orderBy("vec_id")
    }),

    // ----- training-data pipeline: mixture/schedule construction -----

  )

  /** The shared crawl-ladder oracle: gates, extraction chain, and
    * two-batch index growth — `pipe_crawl_stream` and the WARC-fed
    * `pipe_warc_crawl_stream` produce identical verdicts by design. */
  private val CrawlLadderOracle: String =
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        | rawb AS (
        |  SELECT 'x' AS side, doc_id + 200000000 AS doc_id,
        |    'https://news.example/article/' || CAST(doc_id + 200000000 AS VARCHAR) AS url,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ') AS body
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT 'y', doc_id + 100000000,
        |    'https://news.example/article/' || CAST(doc_id + 100000000 AS VARCHAR),
        |    text || ' shared tail marker words here'
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT 'y', doc_id + 300000000,
        |    'https://news.example/article/' || CAST(doc_id + 300000000 AS VARCHAR),
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' extra trailing words'
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT 'y', doc_id + 400000000,
        |    'https://news.example/article/' || CAST(doc_id + 400000000 AS VARCHAR),
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' planted tail one'
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL
        |  SELECT 'y', doc_id + 500000000,
        |    'https://news.example/article/' || CAST(doc_id + 500000000 AS VARCHAR),
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' planted tail two'
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL
        |  SELECT 'y', doc_id + 600000000,
        |    'https://ads.evil.example/article/' || CAST(doc_id + 600000000 AS VARCHAR), text
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT 'y', doc_id + 700000000,
        |    'https://news.example/article/' || CAST(doc_id + 700000000 AS VARCHAR), 'too short'
        |  FROM documents WHERE doc_id % 17 = 0),
        | page AS (SELECT side, doc_id, url,
        |   '<html><head><script>var a=1;</script></head><body><p>' || body
        |   || '</p></body></html>' AS html FROM rawb),
        | e1 AS (SELECT side, doc_id, regexp_replace(html,
        |    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM page),
        | e2 AS (SELECT side, doc_id, regexp_replace(t,
        |    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM e1),
        | e3 AS (SELECT side, doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM e2),
        | e4 AS (SELECT side, doc_id, regexp_replace(t,
        |    '(?i)<(?:br\s*/?|/p|/div|/li|/tr|/h[1-6]|/blockquote)>', chr(10), 'g') AS t FROM e3),
        | e5 AS (SELECT side, doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM e4),
        | e6 AS (SELECT side, doc_id, regexp_replace(t, '&nbsp;', ' ', 'g') AS t FROM e5),
        | e7 AS (SELECT side, doc_id, regexp_replace(t, '&lt;', '<', 'g') AS t FROM e6),
        | e8 AS (SELECT side, doc_id, regexp_replace(t, '&gt;', '>', 'g') AS t FROM e7),
        | e9 AS (SELECT side, doc_id, regexp_replace(t, '&quot;', '"', 'g') AS t FROM e8),
        | e10 AS (SELECT side, doc_id, regexp_replace(t, '&#39;', chr(39), 'g') AS t FROM e9),
        | e11 AS (SELECT side, doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t FROM e10),
        | e12 AS (SELECT side, doc_id, regexp_replace(t, '[ \t\r]+', ' ', 'g') AS t FROM e11),
        | extr AS (SELECT side, doc_id,
        |    regexp_replace(regexp_replace(t, '\s*\n\s*', chr(10), 'g'),
        |      '^\s+|\s+$', '', 'g') AS text FROM e12),
        | gates AS (
        |  SELECT r.side, r.doc_id,
        |    (regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(
        |       regexp_replace(trim(r.url), '^([A-Za-z][A-Za-z0-9+.-]*:)?//', ''),
        |       '^([^/?#]*)', 1)), '^[^/?#]*@', ''), ':[0-9]+$', ''), '\.$', '') = 'evil.example'
        |     OR regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(
        |       regexp_replace(trim(r.url), '^([A-Za-z][A-Za-z0-9+.-]*:)?//', ''),
        |       '^([^/?#]*)', 1)), '^[^/?#]*@', ''), ':[0-9]+$', ''), '\.$', '') LIKE '%.evil.example'
        |     OR lower(regexp_extract(
        |       regexp_replace(trim(r.url), '^([A-Za-z][A-Za-z0-9+.-]*:)?//', ''),
        |       '^[^/?#]*(.*)$', 1)) LIKE '%casino%') AS blocked,
        |    len(regexp_split_to_array(trim(lower(x.text)), '\s+')) < 5 AS lowq,
        |    x.text
        |  FROM rawb r JOIN extr x ON r.side = x.side AND r.doc_id = x.doc_id),
        | elig AS (SELECT side, doc_id, text FROM gates WHERE NOT blocked AND NOT lowq),
        | allc AS (
        |  SELECT 'c' AS side, doc_id, text FROM corpus
        |  UNION ALL SELECT side, doc_id, text FROM elig),
        | shf AS (
        |  SELECT DISTINCT side, doc_id, s
        |  FROM (SELECT side, doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM allc),
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh1 AS (
        |  SELECT side, doc_id,
        |    CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
        |  FROM shf),
        | co AS (
        |  SELECT i,
        |    CAST(CAST(('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483646 + 1 AS a,
        |    CAST(CAST(('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483647 AS b
        |  FROM unnest(range(12)) u(i)),
        | sig AS (
        |  SELECT side, doc_id, i, min((a * h + b) % 2147483647) AS mh
        |  FROM sh1, co GROUP BY 1, 2, 3),
        | bandsig AS (
        |  SELECT side, doc_id, i // 2 AS band_id,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
        |  FROM sig GROUP BY 1, 2, 3),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
        | idx0 AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'c'),
        | cap0 AS (SELECT band_id, bh FROM idx0 GROUP BY 1, 2 HAVING count(*) <= 1000),
        | idx0c AS (SELECT idx0.* FROM idx0 JOIN cap0 USING (band_id, bh)),
        | xb AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'x'),
        | xcb AS (SELECT band_id, bh FROM xb GROUP BY 1, 2 HAVING count(*) <= 1000),
        | xcap AS (SELECT xb.* FROM xb JOIN xcb USING (band_id, bh)),
        | candc0 AS (
        |  SELECT DISTINCT b.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM xb b JOIN idx0c c ON b.band_id = c.band_id AND b.bh = c.bh),
        | candb0 AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM xcap a JOIN xcap b
        |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
        | jc0 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candc0 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupc0 AS (
        |  SELECT j.doc_a AS doc_id, min(j.doc_b) AS dup_corpus
        |  FROM jc0 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | jb0 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candb0 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupb0 AS (
        |  SELECT j.doc_b AS doc_id, min(j.doc_a) AS dup_batch
        |  FROM jb0 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | v0 AS (
        |  SELECT e.doc_id,
        |    CASE WHEN dc.dup_corpus IS NOT NULL THEN 'dup_corpus'
        |         WHEN db.dup_batch IS NOT NULL THEN 'dup_batch'
        |         ELSE 'new' END AS verdict,
        |    COALESCE(dc.dup_corpus, db.dup_batch) AS dup_of
        |  FROM elig e LEFT JOIN dupc0 dc USING (doc_id)
        |    LEFT JOIN dupb0 db USING (doc_id)
        |  WHERE e.side = 'x'),
        | idx1 AS (
        |  SELECT * FROM idx0
        |  UNION ALL
        |  SELECT xb.* FROM xb JOIN v0 ON v0.doc_id = xb.doc_id AND v0.verdict = 'new'),
        | cap1 AS (SELECT band_id, bh FROM idx1 GROUP BY 1, 2 HAVING count(*) <= 1000),
        | idx1c AS (SELECT idx1.* FROM idx1 JOIN cap1 USING (band_id, bh)),
        | yb AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'y'),
        | ycb AS (SELECT band_id, bh FROM yb GROUP BY 1, 2 HAVING count(*) <= 1000),
        | ycap AS (SELECT yb.* FROM yb JOIN ycb USING (band_id, bh)),
        | candc1 AS (
        |  SELECT DISTINCT b.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM yb b JOIN idx1c c ON b.band_id = c.band_id AND b.bh = c.bh),
        | candb1 AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ycap a JOIN ycap b
        |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
        | jc1 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candc1 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupc1 AS (
        |  SELECT j.doc_a AS doc_id, min(j.doc_b) AS dup_corpus
        |  FROM jc1 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | jb1 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candb1 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupb1 AS (
        |  SELECT j.doc_b AS doc_id, min(j.doc_a) AS dup_batch
        |  FROM jb1 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | v1 AS (
        |  SELECT e.doc_id,
        |    CASE WHEN dc.dup_corpus IS NOT NULL THEN 'dup_corpus'
        |         WHEN db.dup_batch IS NOT NULL THEN 'dup_batch'
        |         ELSE 'new' END AS verdict,
        |    COALESCE(dc.dup_corpus, db.dup_batch) AS dup_of
        |  FROM elig e LEFT JOIN dupc1 dc USING (doc_id)
        |    LEFT JOIN dupb1 db USING (doc_id)
        |  WHERE e.side = 'y')
        |SELECT CAST(0 AS INTEGER) AS batch_id, g.doc_id,
        |  CASE WHEN g.blocked THEN 'blocked_url' WHEN g.lowq THEN 'low_quality'
        |       ELSE v.verdict END AS verdict,
        |  CASE WHEN g.blocked OR g.lowq THEN NULL ELSE v.dup_of END AS dup_of
        |FROM gates g LEFT JOIN v0 v USING (doc_id) WHERE g.side = 'x'
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), g.doc_id,
        |  CASE WHEN g.blocked THEN 'blocked_url' WHEN g.lowq THEN 'low_quality'
        |       ELSE v.verdict END,
        |  CASE WHEN g.blocked OR g.lowq THEN NULL ELSE v.dup_of END
        |FROM gates g LEFT JOIN v1 v USING (doc_id) WHERE g.side = 'y'
        |ORDER BY doc_id""".stripMargin

  /** The full BPE merge-table replay (round 17 — closing the LAST
    * `no_oracle` row): every learn round unrolled as a MATERIALIZED CTE
    * pair — pair counts over the current segmentation (one count per
    * ADJACENT POSITION, overlaps included, weighted by word frequency;
    * argmax with the (count desc, left, right) tie-break), then the
    * left-to-right non-overlapping re-segmentation as a list fold. The
    * fold provably equals the imperative scan: the merged symbol
    * `l || r` can never equal `l` (r is non-empty), so a symbol created
    * in this round is never re-consumed by the same round.
    * MATERIALIZED is load-bearing: each stage is referenced twice and
    * plain CTE inlining would double the plan per round (2^30 scans). */
  private def bpeMergesOracle(nMerges: Int): String = {
    val head =
      """WITH v0 AS MATERIALIZED (
        |  SELECT w, c, regexp_split_to_array(w, '') AS syms FROM (
        |    SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |      FROM documents) t
        |    WHERE regexp_matches(w, '^[a-z]+$')
        |    GROUP BY w ORDER BY c DESC, w LIMIT 100000))""".stripMargin
    val stages = (1 to nMerges).map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(c) AS BIGINT) AS n
         |  FROM v${k - 1}, unnest(range(1, len(syms))) u(i)
         |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT w, c, list_reduce(
         |    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
         |    (acc, sl) -> CASE
         |      WHEN len(acc) > 0 AND acc[len(acc)] = b$k.l AND sl[1] = b$k.r
         |      THEN list_append(acc[1:len(acc)-1], b$k.l || b$k.r)
         |      ELSE list_append(acc, sl[1]) END) AS syms
         |  FROM v${k - 1}, b$k)""".stripMargin
    }
    val sel = (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS rank, l AS "left", r AS "right", n AS pair_count FROM b$k"""
    }.mkString("\nUNION ALL\n")
    (head +: stages).mkString(",\n") + "\n" + sel + "\nORDER BY rank"
  }

  def oracleSql: Map[String, String] = Map(
    "txt_bpe_merges" -> bpeMergesOracle(30),

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        | FROM customer, orders, lineitem
        | WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |   AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        | GROUP BY l_orderkey, o_orderdate, o_orderpriority
        | ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        | FROM customer, orders, lineitem, supplier, nation, region
        | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |   AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |   AND r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "dd_exact" ->
      """SELECT md5(lower(text)) AS text_hash, min(doc_id) AS canonical_id, count(*) AS copies
        | FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "txt_tokens" ->
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        | FROM documents ORDER BY doc_id""".stripMargin,

    "txt_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens,
        |  CAST(length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS DOUBLE)
        |    / CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS mean_token_len,
        |  CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |       x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS DOUBLE)
        |    / CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS stopword_ratio,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER) AS punct_count
        | FROM documents ORDER BY doc_id""".stripMargin,

    "txt_langid" ->
      """SELECT doc_id,
        |  CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de > 0 THEN 'de'
        |       WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred
        | FROM (
        |  SELECT doc_id,
        |   len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS en,
        |   len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','von'], x))) AS de,
        |   len(list_filter(toks, x -> list_contains(['le','la','les','et','est','un','une','de','que','pas'], x))) AS fr
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents))
        | ORDER BY doc_id""".stripMargin,

    "ann_bruteforce_topk" ->
      """SELECT query_id, vec_id, rank, cos_r FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id) AS rank,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 5) AS cos_r
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 5 AND c.vec_id != q.vec_id)
        | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full-rank integer replay: quantization, every inner product, and
    // the rank window re-derived in exact integer arithmetic.
    "ann_parity_topk" ->
      """WITH c AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
        |  FROM embeddings),
        | q AS (SELECT vec_id AS query_id, qe AS qq FROM c WHERE vec_id < 5),
        | s AS (SELECT q.query_id, c.vec_id,
        |    CAST(list_sum(list_transform(range(1, len(c.qe) + 1),
        |      i -> c.qe[i] * q.qq[i])) AS BIGINT) AS iscore
        |  FROM c, q WHERE c.vec_id <> q.query_id),
        | r AS (SELECT query_id, vec_id, iscore,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY iscore DESC, vec_id) AS rank FROM s)
        |SELECT query_id, vec_id, iscore, rank FROM r WHERE rank <= 5
        | ORDER BY query_id, rank""".stripMargin,

    "ann_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        | q AS (SELECT * FROM e WHERE vec_id < 8),
        | s AS (SELECT q.vec_id AS query_id, q.label AS ql, c.vec_id, c.label,
        |         list_cosine_similarity(q.v, c.v) AS cos
        |       FROM q, e c WHERE c.vec_id != q.vec_id),
        | pos AS (SELECT query_id, vec_id AS pos_id, cos AS pos_cos,
        |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        |         FROM s WHERE label = ql),
        | neg AS (SELECT query_id, vec_id AS neg_id, cos AS neg_cos,
        |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS neg_rank
        |         FROM s WHERE label <> ql)
        |SELECT n.query_id, p.pos_id, round(p.pos_cos, 5) AS pos_cos_r,
        |  n.neg_id, round(n.neg_cos, 5) AS neg_cos_r, CAST(n.neg_rank AS INTEGER) AS neg_rank,
        |  round(p.pos_cos - n.neg_cos, 5) AS margin_r
        |FROM neg n JOIN pos p ON p.query_id = n.query_id AND p.rn = 1
        |WHERE n.neg_rank <= 3
        |ORDER BY n.query_id, n.neg_rank""".stripMargin,

    "dd_embed_cosine" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS cos_r
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < b.vec_id
        |   AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        | ORDER BY 1, 2""".stripMargin,

    "dd_minhash_recall" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        | sh_all AS (
        |  SELECT DISTINCT doc_id, s FROM toks,
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh AS (
        |  SELECT doc_id, s FROM sh_all
        |  WHERE s IN (SELECT s FROM sh_all GROUP BY s HAVING count(*) <= 100)),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        | inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        | SELECT 'minhash_recall_ge_75' AS check, count(*) AS n_exact, CAST(true AS BOOLEAN) AS ok
        | FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        | WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.2""".stripMargin,

    "ann_lsh_recall" ->
      """SELECT 'ann_recall_at5_ge_25' AS check, CAST(25 AS BIGINT) AS n_exact,
        | CAST(true AS BOOLEAN) AS ok""".stripMargin,

    "ann_ivf_recall" ->
      """SELECT 'ann_ivf_recall_at5_ge_40' AS check, CAST(25 AS BIGINT) AS n_exact,
        | CAST(true AS BOOLEAN) AS ok""".stripMargin,

    "ann_matryoshka_recall" ->
      """SELECT 'ann_matryoshka48_recall_at10_ge_30' AS check,
        | CAST(50 AS BIGINT) AS n_exact, CAST(true AS BOOLEAN) AS ok""".stripMargin,

    "ann_pq_recall" ->
      """SELECT 'ann_pq_recall_at5_ge_60' AS check, CAST(25 AS BIGINT) AS n_exact,
        | CAST(true AS BOOLEAN) AS ok""".stripMargin,

    // Full replay of the parity-bucketed near-dup pairs (round 16):
    // md5-hyperplane bands generate candidates, exact float cosine
    // verifies at the proven round-5 granularity.
    "dd_embed_cosine_lsh" ->
      """WITH qv AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(e[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |       generate_series(1, 64) t(i)),
        |proj AS (
        |  SELECT b, i + 1 AS i,
        |    CAST(CAST(('0x' || substr(md5('lsh:' || CAST(b AS VARCHAR) || ':'
        |      || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 2001 - 1000 AS r
        |  FROM unnest(range(16)) t(b), unnest(range(64)) u(i)),
        |bits AS (
        |  SELECT v.vec_id, p.b,
        |    CASE WHEN sum(v.q * p.r) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM qv v JOIN proj p ON p.i = v.i GROUP BY 1, 2),
        |bands AS (
        |  SELECT vec_id, CAST(b // 4 AS INTEGER) AS band_id,
        |    CAST(sum(bit * (1 << (CAST(b AS INTEGER) % 4))) AS INTEGER) AS bv
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM bands a JOIN bands b ON b.band_id = a.band_id AND b.bv = a.bv
        |  WHERE a.vec_id < b.vec_id)
        |SELECT c.vec_a, c.vec_b,
        |  round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |    CAST(eb.embedding AS DOUBLE[])), 5) AS cos_r
        |FROM cand c
        |JOIN embeddings ea ON ea.vec_id = c.vec_a
        |JOIN embeddings eb ON eb.vec_id = c.vec_b
        |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |    CAST(eb.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY 1, 2""".stripMargin,

    // Full integer replay of the integer-parity LSH index (round 16):
    // md5-derived hyperplanes, sign bits from exact projection sums,
    // band buckets, in-bucket int64 ranking.
    "ann_lsh_topk" ->
      """WITH qv AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(e[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |       generate_series(1, 64) t(i)),
        |proj AS (
        |  SELECT b, i + 1 AS i,
        |    CAST(CAST(('0x' || substr(md5('lsh:' || CAST(b AS VARCHAR) || ':'
        |      || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 2001 - 1000 AS r
        |  FROM unnest(range(16)) t(b), unnest(range(64)) u(i)),
        |bits AS (
        |  SELECT v.vec_id, p.b,
        |    CASE WHEN sum(v.q * p.r) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM qv v JOIN proj p ON p.i = v.i GROUP BY 1, 2),
        |bands AS (
        |  SELECT vec_id, CAST(b // 4 AS INTEGER) AS band_id,
        |    CAST(sum(bit * (1 << (CAST(b AS INTEGER) % 4))) AS INTEGER) AS bv
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM bands q JOIN bands c ON c.band_id = q.band_id AND c.bv = q.bv
        |  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id),
        |scored AS (
        |  SELECT ca.query_id, ca.vec_id, CAST(sum(a.q * b2.q) AS BIGINT) AS iscore
        |  FROM cand ca JOIN qv a ON a.vec_id = ca.vec_id
        |  JOIN qv b2 ON b2.vec_id = ca.query_id AND b2.i = a.i
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, vec_id, iscore, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY iscore DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, iscore, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full integer replay of the integer-parity IVF index (round 16):
    // micro-unit quantization, seed (vec_id % 8) one-Lloyd-step integer
    // centroids with offset floor-division, int64 L2 assignment (ties
    // to the smaller list), nProbe=2 probing, exact int64 inner-product
    // ranking with vec_id tie-break.
    "ann_ivf_topk" ->
      """WITH qv AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(e[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |       generate_series(1, 64) t(i)),
        |cent AS (
        |  SELECT CAST(vec_id % 8 AS INTEGER) AS list_id, i,
        |    CAST((sum(q) + count(*) * 1000000000000) // count(*)
        |         - 1000000000000 AS BIGINT) AS c
        |  FROM qv GROUP BY 1, i),
        |assign AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT v.vec_id, c.list_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY sum((v.q - c.c) * (v.q - c.c)), c.list_id) AS r
        |    FROM qv v JOIN cent c ON c.i = v.i
        |    GROUP BY v.vec_id, c.list_id) WHERE r = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, list_id FROM (
        |    SELECT v.vec_id, c.list_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY sum((v.q - c.c) * (v.q - c.c)), c.list_id) AS r
        |    FROM qv v JOIN cent c ON c.i = v.i
        |    WHERE v.vec_id < 5
        |    GROUP BY v.vec_id, c.list_id) WHERE r <= 2),
        |scored AS (
        |  SELECT p.query_id, a.vec_id, CAST(sum(cv.q * qq.q) AS BIGINT) AS iscore
        |  FROM assign a
        |  JOIN probes p ON p.list_id = a.list_id AND a.vec_id != p.query_id
        |  JOIN qv cv ON cv.vec_id = a.vec_id
        |  JOIN qv qq ON qq.vec_id = p.query_id AND qq.i = cv.i
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, vec_id, iscore, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY iscore DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, iscore, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full integer replay of the integer-parity PQ ADC scan (round 16):
    // 8 subspaces x 8 dims, seed (vec_id % 4) one-step codebooks,
    // int64 L2 encode (ties to the smaller code), ADC score = sum of
    // per-subspace query x codeword dots.
    "ann_pq_topk" ->
      """WITH qv AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(e[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |       generate_series(1, 64) t(i)),
        |books AS (
        |  SELECT CAST((i - 1) // 8 AS INTEGER) AS s,
        |    CAST(vec_id % 4 AS INTEGER) AS j, i,
        |    CAST((sum(q) + count(*) * 1000000000000) // count(*)
        |         - 1000000000000 AS BIGINT) AS c
        |  FROM qv GROUP BY 1, 2, i),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT v.vec_id, b.s, b.j,
        |      row_number() OVER (PARTITION BY v.vec_id, b.s
        |        ORDER BY sum((v.q - b.c) * (v.q - b.c)), b.j) AS r
        |    FROM qv v JOIN books b ON b.i = v.i
        |    GROUP BY v.vec_id, b.s, b.j) WHERE r = 1),
        |qdots AS (
        |  SELECT v.vec_id AS query_id, b.s, b.j, CAST(sum(v.q * b.c) AS BIGINT) AS qd
        |  FROM qv v JOIN books b ON b.i = v.i
        |  WHERE v.vec_id < 5 GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT d.query_id, c.vec_id, CAST(sum(d.qd) AS BIGINT) AS iscore
        |  FROM codes c JOIN qdots d ON d.s = c.s AND d.j = c.code
        |  WHERE c.vec_id != d.query_id
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, vec_id, iscore, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY iscore DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, iscore, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full integer replay of the integer-parity IVFADC index (round 16):
    // coarse integer IVF + residual integer codebooks; score =
    // dot(q, c_list) + sum_s dot(q_sub's full-dim row, book codeword) —
    // every term exact int64.
    "ann_ivfpq_topk" ->
      """WITH qv AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(e[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |       generate_series(1, 64) t(i)),
        |cent AS (
        |  SELECT CAST(vec_id % 8 AS INTEGER) AS list_id, i,
        |    CAST((sum(q) + count(*) * 1000000000000) // count(*)
        |         - 1000000000000 AS BIGINT) AS c
        |  FROM qv GROUP BY 1, i),
        |assign AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT v.vec_id, c.list_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY sum((v.q - c.c) * (v.q - c.c)), c.list_id) AS r
        |    FROM qv v JOIN cent c ON c.i = v.i
        |    GROUP BY v.vec_id, c.list_id) WHERE r = 1),
        |resid AS (
        |  SELECT v.vec_id, v.i, v.q - c.c AS rq
        |  FROM qv v JOIN assign a ON a.vec_id = v.vec_id
        |  JOIN cent c ON c.list_id = a.list_id AND c.i = v.i),
        |books AS (
        |  SELECT CAST((i - 1) // 8 AS INTEGER) AS s,
        |    CAST(vec_id % 4 AS INTEGER) AS j, i,
        |    CAST((sum(rq) + count(*) * 1000000000000) // count(*)
        |         - 1000000000000 AS BIGINT) AS c
        |  FROM resid GROUP BY 1, 2, i),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT v.vec_id, b.s, b.j,
        |      row_number() OVER (PARTITION BY v.vec_id, b.s
        |        ORDER BY sum((v.rq - b.c) * (v.rq - b.c)), b.j) AS r
        |    FROM resid v JOIN books b ON b.i = v.i
        |    GROUP BY v.vec_id, b.s, b.j) WHERE r = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, list_id FROM (
        |    SELECT v.vec_id, c.list_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY sum((v.q - c.c) * (v.q - c.c)), c.list_id) AS r
        |    FROM qv v JOIN cent c ON c.i = v.i
        |    WHERE v.vec_id < 5
        |    GROUP BY v.vec_id, c.list_id) WHERE r <= 2),
        |term1 AS (
        |  SELECT p.query_id, p.list_id, CAST(sum(v.q * c.c) AS BIGINT) AS t1
        |  FROM probes p JOIN qv v ON v.vec_id = p.query_id
        |  JOIN cent c ON c.list_id = p.list_id AND c.i = v.i
        |  GROUP BY 1, 2),
        |qdots AS (
        |  SELECT v.vec_id AS query_id, b.s, b.j, CAST(sum(v.q * b.c) AS BIGINT) AS qd
        |  FROM qv v JOIN books b ON b.i = v.i
        |  WHERE v.vec_id < 5 GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT t.query_id, a.vec_id, CAST(t.t1 + sum(d.qd) AS BIGINT) AS iscore
        |  FROM assign a
        |  JOIN term1 t ON t.list_id = a.list_id AND a.vec_id != t.query_id
        |  JOIN codes c2 ON c2.vec_id = a.vec_id
        |  JOIN qdots d ON d.query_id = t.query_id AND d.s = c2.s AND d.j = c2.code
        |  GROUP BY 1, 2, t.t1),
        |ranked AS (
        |  SELECT query_id, vec_id, iscore, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY iscore DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, iscore, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full integer replay of the trained scalar quantizer: per-dim
    // extremes, the floor(+0.5) rounding, and every exact code dot.
    "ann_sq8_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |dims AS (
        |  SELECT i, min(e[i]) AS lo, max(e[i]) AS hi
        |  FROM corpus, generate_series(1, 64) t(i) GROUP BY i),
        |recon AS (
        |  SELECT vec_id, list(CAST(
        |      floor(lo * 1000000 + 0.5)
        |      + (CASE WHEN hi > lo
        |          THEN least(greatest(floor((e[i] - lo) / (hi - lo) * 255 + 0.5), 0), 255)
        |          ELSE 0 END)
        |        * floor((hi - lo) * 1000000 / 255 + 0.5)
        |      AS BIGINT) ORDER BY i) AS c
        |  FROM corpus, dims
        |  GROUP BY vec_id),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id,
        |    CAST(list_dot_product(CAST(q.c AS DOUBLE[]), CAST(c.c AS DOUBLE[])) AS BIGINT) AS iscore
        |  FROM recon q, recon c WHERE q.vec_id < 5 AND c.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, iscore, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY iscore DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, iscore, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_sq8_recall" ->
      """SELECT 'ann_sq8_recall_at5_ge_60' AS check, CAST(25 AS BIGINT) AS n_exact,
        | CAST(true AS BOOLEAN) AS ok""".stripMargin,

    "ann_ivfpq_recall" ->
      """SELECT 'ann_ivfpq_recall_at5_ge_30' AS check, CAST(25 AS BIGINT) AS n_exact,
        | CAST(true AS BOOLEAN) AS ok""".stripMargin,

    "dd_embed_lsh_recall" ->
      """SELECT 'embed_lsh_recall_ge_15_precision_1' AS check,
        |       count(*) AS n_exact, CAST(true AS BOOLEAN) AS ok
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < b.vec_id
        |   AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin,

    "dd_simhash_invariance" ->
      """SELECT doc_id, CAST(true AS BOOLEAN) AS invariant FROM documents ORDER BY doc_id""",

    "txt_fingerprint_invariance" ->
      """SELECT doc_id, CAST(true AS BOOLEAN) AS case_ws_invariant,
        |       CAST(true AS BOOLEAN) AS content_sensitive
        | FROM documents ORDER BY doc_id""".stripMargin,

    "txt_langid_profile" ->
      s"""WITH pl AS (
        |  SELECT 900000 + doc_id * 5 + li AS doc_id,
        |    CASE li $LangCaseSql END AS lang,
        |    repeat(CASE li $PhraseCaseSql END,
        |      CAST(doc_id % 3 + 2 AS INTEGER)) AS text
        |  FROM documents, unnest(range(5)) u(li) WHERE doc_id % 17 = 0),
        | allc AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT doc_id, lang, text FROM pl),
        | d AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
        |  FROM allc),
        | tg AS (
        |  SELECT lang, substr(t, i, 3) AS gram
        |  FROM d, unnest(range(1, length(t) - 1)) u(i)
        |  WHERE doc_id >= 900000 AND doc_id % 2 = 0),
        | lp AS (
        |  SELECT lang, gram,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, gram) AS BIGINT) AS rnk
        |  FROM tg GROUP BY lang, gram
        |  QUALIFY rnk <= 50),
        | dg AS (
        |  SELECT doc_id, substr(t, i, 3) AS gram
        |  FROM d, unnest(range(1, length(t) - 1)) u(i)
        |  WHERE doc_id % 2 = 1),
        | dt AS (
        |  SELECT doc_id, gram,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS BIGINT) AS drank
        |  FROM dg GROUP BY doc_id, gram
        |  QUALIFY drank <= 50),
        | langs AS (SELECT DISTINCT lang FROM lp),
        | dist AS (
        |  SELECT dt.doc_id, l.lang,
        |    CAST(sum(COALESCE(abs(dt.drank - lp.rnk), 50)) AS BIGINT) AS dist
        |  FROM dt CROSS JOIN langs l
        |  LEFT JOIN lp ON lp.lang = l.lang AND lp.gram = dt.gram
        |  GROUP BY 1, 2),
        | pred AS (
        |  SELECT doc_id, lang AS pred_lang, dist
        |  FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) = 1)
        |SELECT d.doc_id >= 900000 AS is_plant, d.lang AS true_lang, p.pred_lang,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(p.dist) AS BIGINT) AS dist_sum
        |FROM pred p JOIN d ON d.doc_id = p.doc_id
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "txt_compress_contract" ->
      """SELECT
        |  CAST((SELECT count(*) FROM documents WHERE doc_id % 11 = 0) AS BIGINT) AS n_repeat,
        |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_salad,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id % 13 = 0) AS BIGINT) AS n_noise,
        |  TRUE AS repeat_lt_prose, TRUE AS prose_lt_noise_median,
        |  TRUE AS repeat_band_ok, TRUE AS noise_band_ok""".stripMargin,

    // Full replay of the PRODUCTION xxhash64 LSH pipeline (round 17 —
    // formerly rows-only): every min(xxhash64(i, shingle)) signature,
    // the chained-seed band hashes, the 1000-cap, the band self-join,
    // and the exact-Jaccard verify, with the hash replayed bit-exactly
    // by the XxHashMacros preamble (validated against Spark in
    // tools/xxh_oracle_check.py).
    "dd_minhash_lsh" -> (XxHashMacros.Sql +
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM toks,
        |   unnest(list_transform(range(1, len(t) - 1),
        |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        |seeds AS (
        |  SELECT CAST(i AS INTEGER) AS i, xx_int(i, 42) AS sd
        |  FROM unnest(range(16)) u(i)),
        |shb AS (SELECT doc_id, s, xx_bytes(s) AS bl FROM sh),
        |sig AS (
        |  SELECT doc_id, se.i,
        |    min(xx_signed(xx_strh_bl(bl, se.sd))) AS mh
        |  FROM shb, seeds se GROUP BY 1, 2),
        |bands AS (
        |  SELECT a.doc_id, CAST(a.i // 2 AS INTEGER) AS band_id,
        |    xx_signed(xx_long(b.mh, xx_long(a.mh, 42))) AS band_hash
        |  FROM sig a JOIN sig b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |bb AS (SELECT band_id, band_hash FROM bands GROUP BY 1, 2
        |       HAVING count(*) <= 1000),
        |banded AS (SELECT bs.* FROM bands bs JOIN bb USING (band_id, band_hash)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
        |   AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
        |    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |  round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 5)
        |    AS jaccard_r
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE) >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Full replay of the PRODUCTION 64-bit simhash (round 17 — formerly
    // rows-only): per-token xxhash64 (seed 42), 64 ±1 bit votes, the
    // sign-pack with ties voting clear, the 2^63 bit wrapping to a
    // negative long.
    "dd_simhash" -> (XxHashMacros.Sql +
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, xx_strh(tok, 42) AS hu FROM toks),
        |pw AS (
        |  SELECT CAST(i AS INTEGER) AS i,
        |    list_reduce(list_prepend(CAST(1 AS HUGEINT),
        |      list_transform(range(i), x -> CAST(2 AS HUGEINT))),
        |      (a, b) -> a * b) AS p
        |  FROM unnest(range(64)) u(i)),
        |bits AS (
        |  SELECT h.doc_id, pw.i,
        |    sum(CASE WHEN (h.hu // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS v,
        |    pw.p
        |  FROM h, pw GROUP BY 1, 2, 4)
        |SELECT doc_id,
        |  xx_signed(COALESCE(sum(p) FILTER (WHERE v > 0), 0)) AS simhash
        |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Full replay of the PRODUCTION chained-xxhash64 fingerprint
    // (round 17 — formerly rows-only): the order-sensitive fold
    // acc -> xxhash64(acc, tok) from acc = 0, replayed as a list_reduce
    // whose accumulator rides as VARCHAR (DuckDB reduce needs one
    // element type) over the same token stream.
    "txt_fingerprint" -> (XxHashMacros.Sql +
      """SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend('0', regexp_split_to_array(trim(lower(text)), '\s+')),
        |    (acc, tok) -> CAST(xx_signed(xx_strh_bl(xx_bytes(tok),
        |                    xx_long(CAST(acc AS BIGINT), 42))) AS VARCHAR)
        |  ) AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    "dd_minhash_lsh_parity" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 800000, text || ' shared tail marker words here'
        |  FROM documents WHERE doc_id % 23 = 0),
        | shf AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM corpus),
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh1 AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
        |  FROM shf),
        | co AS (
        |  SELECT i,
        |    CAST(CAST(('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483646 + 1 AS a,
        |    CAST(CAST(('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483647 AS b
        |  FROM unnest(range(12)) u(i)),
        | sig AS (
        |  SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
        |  FROM sh1, co GROUP BY 1, 2),
        | bandsig AS (
        |  SELECT doc_id, i // 2 AS band_id,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
        |  FROM sig GROUP BY 1, 2),
        | bb AS (SELECT band_id, bh FROM bandsig GROUP BY 1, 2 HAVING count(*) <= 1000),
        | banded AS (SELECT bs.* FROM bandsig bs JOIN bb USING (band_id, bh)),
        | cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
        | inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM cand c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |  round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 5) AS jaccard_r
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dd_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        | sh_all AS (
        |  SELECT DISTINCT doc_id, s FROM toks,
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh AS (
        |  SELECT doc_id, s FROM sh_all
        |  WHERE s IN (SELECT s FROM sh_all GROUP BY s HAVING count(*) <= 100)),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        | inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        | SELECT doc_a, doc_b,
        |        round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 5) AS jaccard_r
        | FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        | WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.05
        | ORDER BY doc_a, doc_b""".stripMargin,

    "dd_bloom_dedup" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        | ref AS (SELECT doc_id, text FROM docs WHERE doc_id % 3 = 0),
        | cand AS (
        |  SELECT doc_id, text FROM docs WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id + 950000, text FROM ref WHERE doc_id % 21 = 0),
        | co AS (SELECT i,
        |    CAST(CAST(('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483646 + 1 AS a,
        |    CAST(CAST(('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483647 AS b
        |  FROM unnest(range(3)) u(i)),
        | rp AS (
        |  SELECT DISTINCT array_to_string(t[i*10+1 : i*10+10], ' ') AS para
        |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM ref),
        |       unnest(range(0, (len(t)+9)//10)) u(i)),
        | rph AS (SELECT para,
        |    CAST(CAST(('0x' || substr(md5(para), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
        |  FROM rp),
        | bits AS (SELECT DISTINCT (co.a * rph.h + co.b) % 2147483647 % 4096 AS pos
        |  FROM rph, co),
        | cp AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i*10+1 : i*10+10], ' ') AS para
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM cand),
        |       unnest(range(0, (len(t)+9)//10)) u(i)),
        | cph AS (SELECT doc_id, para,
        |    CAST(CAST(('0x' || substr(md5(para), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
        |  FROM cp),
        | cpos AS (SELECT c.doc_id, c.para,
        |    (co.a * c.h + co.b) % 2147483647 % 4096 AS pos FROM cph c, co),
        | probe AS (
        |  SELECT cpos.doc_id, cpos.para,
        |    count(DISTINCT CASE WHEN b.pos IS NOT NULL THEN cpos.pos END)
        |      = count(DISTINCT cpos.pos) AS flagged
        |  FROM cpos LEFT JOIN bits b ON b.pos = cpos.pos GROUP BY 1, 2)
        |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN p.flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN t.para IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  sum(CASE WHEN p.flagged THEN 1 ELSE 0 END) > 0 AS any_flagged,
        |  sum(CASE WHEN t.para IS NOT NULL THEN 1 ELSE 0 END) > 0 AS any_true
        |FROM probe p LEFT JOIN rp t ON t.para = p.para
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dd_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id // 3 AS page, doc_id % 3 AS v,
        |    'www.s' || CAST((doc_id // 3) % 7 AS VARCHAR) || '.example.com' AS h,
        |    (doc_id // 3) % 5 = 0 AS sec,
        |    (doc_id // 3) % 11 = 0 AS nopath
        |  FROM documents),
        | raw AS (
        |  SELECT doc_id,
        |    CASE WHEN nopath THEN
        |      CASE v WHEN 0 THEN 'http://' || h || '#frag'
        |             WHEN 1 THEN 'HTTP://' || upper(h) || ':80/'
        |             ELSE 'http://' || h END
        |    ELSE
        |      CASE v
        |        WHEN 0 THEN (CASE WHEN sec THEN 'https://' ELSE 'http://' END)
        |          || h || '/p/' || CAST(page AS VARCHAR)
        |          || '?id=' || CAST(page AS VARCHAR) || '&ref=rss&b=2&a=1#top'
        |        WHEN 1 THEN (CASE WHEN sec THEN 'HTTPS://' ELSE 'HTTP://' END)
        |          || upper(h) || (CASE WHEN sec THEN ':443' ELSE ':80' END)
        |          || '/p/' || CAST(page AS VARCHAR)
        |          || '?a=1&b=2&id=' || CAST(page AS VARCHAR) || '&utm_campaign=x'
        |        ELSE (CASE WHEN sec THEN 'https://' ELSE 'http://' END)
        |          || h || '/p/' || CAST(page AS VARCHAR)
        |          || '?a=1&id=' || CAST(page AS VARCHAR) || '&b=2' END
        |    END AS url
        |  FROM u),
        | parts AS (
        |  SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS nf FROM raw),
        | comp AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(nf, '\?(.*)$', 1) AS q
        |  FROM parts),
        | canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || lower(regexp_replace(auth, ':[0-9]+$', '')) ||
        |    (CASE WHEN regexp_extract(auth, ':([0-9]+)$', 1) = ''
        |       OR (scheme = 'http' AND regexp_extract(auth, ':([0-9]+)$', 1) = '80')
        |       OR (scheme = 'https' AND regexp_extract(auth, ':([0-9]+)$', 1) = '443')
        |     THEN '' ELSE ':' || regexp_extract(auth, ':([0-9]+)$', 1) END) ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS canonical_url
        |  FROM (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
        |          string_split(q, '&'),
        |          p -> p <> '' AND NOT regexp_matches(p,
        |            '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))), '&'), '') AS sq
        |        FROM comp))
        |SELECT canonical_url, MIN(doc_id) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS copies
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,

    "txt_fingerprint_parity" ->
      """WITH t AS (SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      tok -> CAST(CAST(('0x' || substr(md5(tok), 1, 12)) AS UBIGINT) AS BIGINT)) AS th
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), th),
        |    (acc, t) -> ((acc // 2147483648) * 131 + t) % 2147483647 * 2147483648
        |              + ((acc % 2147483648) * 137 + t) % 2147483629) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,

    "dd_simhash_parity" -> {
      val sums = (0 until 48)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b_$i")
        .mkString(", ")
      val pack = (0 until 48)
        .map(i => s"(CASE WHEN b_$i > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |  FROM documents),
         | h AS (SELECT doc_id,
         |    CAST(CAST(('0x' || substr(md5(tok), 1, 12)) AS UBIGINT) AS BIGINT) AS h
         |  FROM t),
         | s AS (SELECT doc_id, $sums FROM h GROUP BY 1)
         |SELECT doc_id, CAST($pack AS BIGINT) AS simhash
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "dd_cluster" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        | sh_all AS (
        |  SELECT DISTINCT doc_id, s FROM toks,
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh AS (
        |  SELECT doc_id, s FROM sh_all
        |  WHERE s IN (SELECT s FROM sh_all GROUP BY s HAVING count(*) <= 100)),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        | inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.05),
        | edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |           UNION ALL SELECT doc_b, doc_a FROM pairs),
        | reach(node, lbl) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node)
        | SELECT node AS doc_id, min(lbl) AS cluster_id, (min(lbl) = node) AS is_canonical
        | FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    "dd_line_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter' || chr(10) ELSE '' END ||
        |    text ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'All rights reserved' ELSE '' END ||
        |    CASE WHEN doc_id % 50 = 0 THEN chr(10) || 'promo code ' || CAST(doc_id AS VARCHAR) ELSE '' END AS text
        |  FROM documents),
        | lines AS (
        |  SELECT doc_id, p AS pos, sp[p + 1] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sp FROM docs),
        |       UNNEST(range(len(sp))) AS t(p)),
        | boiler AS (
        |  SELECT trim(lower(line)) AS norm FROM lines
        |  WHERE trim(lower(line)) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 10),
        | kept AS (
        |  SELECT l.doc_id, l.pos, l.line FROM lines l
        |  WHERE trim(lower(l.line)) NOT IN (SELECT norm FROM boiler))
        | SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_hash,
        |        CAST(length(string_agg(line, chr(10) ORDER BY pos)) AS INT) AS len
        | FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "txt_vocab" ->
      """SELECT tok, cnt FROM (
        |  SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY tok)
        | ORDER BY cnt DESC, tok LIMIT 20""".stripMargin,

    // Empty tokens carry no feature; docs with no scoreable tokens keep
    // the bias-only margin (left join), never dropping from the verdict.
    // Bucket LLRs and Gumbel noise floored to integer micro-units right
    // after the single floating-point step, so sums and the top-k cut
    // are exact-integer in both engines.
    "txt_classifier_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        | b AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 64 AS BIGINT) AS bucket
        |  FROM toks WHERE tok <> ''),
        | m AS (
        |  SELECT doc_id, sum((bucket * 37) % 13 - 6) AS s FROM b GROUP BY doc_id)
        | SELECT d.doc_id, CAST(COALESCE(m.s, 0) + 2 AS BIGINT) AS margin,
        |        (COALESCE(m.s, 0) + 2) > 0 AS keep
        | FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        | ORDER BY d.doc_id""".stripMargin,

    // Exact half re-derived; the sketch-error booleans are certified by
    // the engine and pinned here (the sketches are deterministic).
    "txt_sketch_contract" ->
      """SELECT count(DISTINCT tok) AS exact_vocab,
        |  CAST(TRUE AS BOOLEAN) AS vocab_ok, CAST(TRUE AS BOOLEAN) AS p50_ok,
        |  CAST(TRUE AS BOOLEAN) AS p90_ok, CAST(TRUE AS BOOLEAN) AS p99_ok
        | FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |       FROM documents)""".stripMargin,

    "txt_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe
        | FROM documents ORDER BY doc_id""".stripMargin,

    "pipe_clean" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id < 50),
        | feat AS (
        |  SELECT doc_id, text,
        |   len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
        |   CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS DOUBLE)
        |     / len(regexp_split_to_array(trim(lower(text)), '\s+')) AS stopword_ratio,
        |   len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS en,
        |   len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','von'], x))) AS de,
        |   len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['le','la','les','et','est','un','une','de','que','pas'], x))) AS fr
        |  FROM all_docs),
        | keep AS (
        |  SELECT * FROM feat
        |  WHERE (en >= de AND en >= fr AND en > 0)
        |    AND n_tokens BETWEEN 30 AND 10000 AND stopword_ratio >= 0.03)
        | SELECT min(doc_id) AS doc_id, count(*) AS copies
        | FROM keep GROUP BY md5(lower(text)) ORDER BY doc_id""".stripMargin,

    "pipe_clean_funnel" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id < 50),
        | feat AS (
        |  SELECT doc_id, text,
        |   (len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x)))
        |      >= len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','von'], x)))
        |    AND len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x)))
        |      >= len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['le','la','les','et','est','un','une','de','que','pas'], x)))
        |    AND len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) > 0)
        |     AS lang_ok,
        |   (len(regexp_split_to_array(trim(lower(text)), '\s+')) BETWEEN 30 AND 10000
        |    AND CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |         x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 0.03) AS qual_ok
        |  FROM all_docs)
        | SELECT CAST(count(*) AS BIGINT) AS n_raw,
        |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(sum(CASE WHEN lang_ok AND qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_qual,
        |  CAST(count(DISTINCT CASE WHEN lang_ok AND qual_ok THEN md5(lower(text)) END) AS BIGINT) AS n_dedup
        | FROM feat""".stripMargin,

    "txt_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS pos, arr[p + 1] AS tok,
        |         CAST(len(arr) AS BIGINT) AS n_doc
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |        FROM documents),
        |       UNNEST(range(len(arr))) AS t(p)),
        | ch AS (
        |  SELECT doc_id, pos, tok, CAST(c AS BIGINT) AS chunk_id
        |  FROM toks,
        |       UNNEST(range(greatest(0, (pos + 24 - 32) // 24), pos // 24 + 1)) AS u(c)
        |  WHERE c = 0 OR c * 24 < n_doc - 8)
        | SELECT doc_id, chunk_id, count(*) AS n_tokens, min(pos) AS start_pos,
        |        md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        | FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "txt_bpe_learn_contract" ->
      """WITH words AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE regexp_matches(tok, '^[a-z]+$')
        |  GROUP BY tok),
        | chars AS (SELECT regexp_split_to_array(w, '') AS ch, c FROM words),
        | pairs AS (
        |  SELECT ch[i] AS lft, ch[i+1] AS rgt, SUM(c) AS n
        |  FROM chars, unnest(range(1, len(ch))) t(i)
        |  GROUP BY 1, 2)
        |SELECT lft AS "left", rgt AS "right", CAST(n AS BIGINT) AS pair_count
        |FROM pairs ORDER BY n DESC, lft, rgt LIMIT 1""".stripMargin,

    "txt_bpe_encode_contract" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    w -> CASE WHEN regexp_matches(w, '^[a-z]+$') THEN length(w) ELSE 1 END))
        |    AS BIGINT) AS n_before,
        |  CAST(TRUE AS BOOLEAN) AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Independent replay of the unigram trainer's seed phase: substring
    // weights over the letter-word frequency table, top-30 with the
    // (weight desc, piece asc) tie-break.
    "txt_unigram_learn_contract" ->
      """WITH words AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE regexp_matches(tok, '^[a-z]+$')
        |  GROUP BY tok),
        | subs AS (
        |  SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece, c
        |  FROM words, unnest(range(1, length(w) + 1)) t(i), unnest(range(1, 5)) u(l)
        |  WHERE i + l - 1 <= length(w))
        |SELECT piece, CAST(sum(c) AS BIGINT) AS weight
        |FROM subs GROUP BY 1 ORDER BY weight DESC, piece LIMIT 30""".stripMargin,

    "txt_unigram_encode_contract" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    w -> CASE WHEN regexp_matches(w, '^[a-z]+$') THEN length(w) ELSE 1 END))
        |    AS BIGINT) AS n_before,
        |  CAST(list_sum(list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    w -> CASE WHEN regexp_matches(w, '^[a-z]+$') THEN (length(w) + 3) // 4
        |         ELSE 1 END)) AS BIGINT) AS n_floor,
        |  CAST(TRUE AS BOOLEAN) AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_pack_sequences" ->
      """WITH n AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_doc
        |  FROM documents),
        | s AS (
        |  SELECT doc_id, n_doc,
        |    CAST(COALESCE(SUM(n_doc) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
        |  FROM n),
        | x AS (
        |  SELECT doc_id, n_doc, st,
        |    unnest(generate_series(st // 256, (st + n_doc - 1) // 256)) AS seq_id
        |  FROM s)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(GREATEST(st, seq_id * 256) - seq_id * 256 AS BIGINT) AS seq_pos,
        |  CAST(GREATEST(st, seq_id * 256) - st AS BIGINT) AS doc_pos,
        |  CAST(LEAST(st + n_doc, (seq_id + 1) * 256) - GREATEST(st, seq_id * 256) AS BIGINT) AS n_toks
        |FROM x ORDER BY seq_id, doc_id""".stripMargin,

    // The whole mixture chain replayed: temperature rates -> hash-bucket
    // keep -> floor/ceil upsample copies -> md5 epoch-shuffle rank ->
    // prefix-sum packing, all integral or IEEE-exact.
    "txt_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, tok, count(*) AS n_in_doc
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        | vocab AS (SELECT tok, sum(n_in_doc) AS corpus_n FROM toks GROUP BY 1)
        | SELECT t.doc_id, CAST(sum(t.n_in_doc) AS BIGINT) AS n_tokens,
        |        round(CAST(sum(t.n_in_doc * v.corpus_n) AS DOUBLE)
        |          / CAST(sum(t.n_in_doc) AS DOUBLE), 5) AS mean_corpus_freq_r,
        |        round(CAST(sum(CASE WHEN v.corpus_n = 1 THEN t.n_in_doc ELSE 0 END) AS DOUBLE)
        |          / CAST(sum(t.n_in_doc) AS DOUBLE), 5) AS hapax_frac_r,
        |        CAST(min(v.corpus_n) AS BIGINT) AS min_corpus_n
        | FROM toks t JOIN vocab v USING (tok)
        | GROUP BY 1 ORDER BY 1""".stripMargin,

    "txt_perplexity" ->
      s"""$PerplexityCte
        |SELECT d.doc_id,
        |  CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(p.sum_logp_u, 0) AS BIGINT) AS sum_logp_u,
        |  CASE WHEN p.n_bigrams IS NULL THEN NULL
        |       ELSE round(CAST(-p.sum_logp_u AS DOUBLE)
        |              / CAST(p.n_bigrams AS DOUBLE) / 1000000.0, 5) END AS avg_nll_r
        |FROM documents d LEFT JOIN pd p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "txt_dup_spans" ->
      """WITH sdocs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, text || ' tail marker ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id < 50),
        | toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM sdocs),
        | base AS (SELECT doc_id, t, len(t) AS n_tokens FROM toks),
        | th AS (
        |  SELECT doc_id, n_tokens,
        |    list_transform(t, s ->
        |      CAST(CAST(('0x' || substr(md5(s), 1, 12)) AS UBIGINT) AS BIGINT)) AS v
        |  FROM base WHERE n_tokens >= 20),
        | grams AS (
        |  SELECT doc_id, p,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), v[p + 1:p + 20]),
        |      (acc, x) -> ((acc >> 31) * 131 + x) % 2147483647 * 2147483648
        |                  + ((acc & 2147483647) * 137 + x) % 2147483629) AS h
        |  FROM th, unnest(range(0, n_tokens - 20 + 1)) u(p)),
        | dh AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        | marked AS (SELECT g.doc_id, g.p, g.p + 19 AS pe FROM grams g JOIN dh USING (h)),
        | regs AS (
        |  SELECT doc_id, p, pe,
        |    max(pe) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |  FROM marked),
        | regs3 AS (
        |  SELECT doc_id, p, pe,
        |    sum(CASE WHEN rm IS NULL OR p > rm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
        |  FROM regs),
        | rsum AS (SELECT doc_id, rid, min(p) AS rs, max(pe) AS re FROM regs3 GROUP BY 1, 2),
        | perdoc AS (
        |  SELECT doc_id, CAST(sum(re - rs + 1) AS BIGINT) AS n_dup_tokens,
        |         CAST(count(*) AS BIGINT) AS n_regions
        |  FROM rsum GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n_tokens AS INTEGER) AS n_tokens,
        |  CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |  CAST(COALESCE(p.n_regions, 0) AS BIGINT) AS n_regions,
        |  round(CAST(COALESCE(p.n_dup_tokens, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 5) AS dup_frac_r
        |FROM base b LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "txt_repetition" ->
      """WITH rd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000, repeat('lorem ipsum ', 29) || 'lorem ipsum'
        |  FROM documents WHERE doc_id < 20),
        | toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM rd),
        | stats AS (SELECT doc_id, len(t) AS n_words, len(list_distinct(t)) AS n_distinct FROM toks),
        | g1 AS (SELECT doc_id, max(c) AS top1 FROM (
        |   SELECT doc_id, s, count(*) AS c FROM toks, unnest(t) u(s) GROUP BY 1, 2) GROUP BY 1),
        | g2 AS (SELECT doc_id, max(c) AS top2 FROM (
        |   SELECT doc_id, s, count(*) AS c FROM toks,
        |     unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) u(s)
        |   GROUP BY 1, 2) GROUP BY 1)
        | SELECT s.doc_id, CAST(n_words AS INTEGER) AS n_words,
        |   round(CAST(n_distinct AS DOUBLE) / n_words, 5) AS distinct_frac_r,
        |   round(CAST(top1 AS DOUBLE) / n_words, 5) AS top_word_frac_r,
        |   round(CAST(top2 AS DOUBLE) / (n_words - 1), 5) AS top_bigram_frac_r,
        |   (CAST(top1 AS DOUBLE) / n_words <= 0.2 AND
        |    CAST(top2 AS DOUBLE) / (n_words - 1) <= 0.18) AS keep
        | FROM stats s JOIN g1 USING (doc_id) JOIN g2 USING (doc_id)
        | ORDER BY doc_id""".stripMargin,

    "txt_pii" ->
      """WITH pd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text || ' contact alice@example.com or call 555-123-4567 now'
        |  FROM documents WHERE doc_id < 30)
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
        |  (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |   len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))) > 0 AS has_pii,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        | FROM pd ORDER BY doc_id""".stripMargin,

    "txt_card_pii" ->
      """WITH cd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 730000,
        |    text || ' pay 4111111111111111 or 5500 0000 0000 0004 not 1234567890123456 end'
        |  FROM documents WHERE doc_id % 43 = 0),
        | cands AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '\b(?:\d[ -]?){12,15}\d\b') AS cs
        |  FROM cd),
        | vc AS (
        |  SELECT doc_id, text, cs,
        |    list_filter(cs, c -> (list_sum(list_transform(
        |      generate_series(1, len(regexp_extract_all(c, '\d'))),
        |      i -> (CASE WHEN i % 2 = 0 THEN
        |              CASE WHEN 2 * CAST(regexp_extract_all(c, '\d')[len(regexp_extract_all(c, '\d')) - i + 1] AS INTEGER) > 9
        |                   THEN 2 * CAST(regexp_extract_all(c, '\d')[len(regexp_extract_all(c, '\d')) - i + 1] AS INTEGER) - 9
        |                   ELSE 2 * CAST(regexp_extract_all(c, '\d')[len(regexp_extract_all(c, '\d')) - i + 1] AS INTEGER) END
        |            ELSE CAST(regexp_extract_all(c, '\d')[len(regexp_extract_all(c, '\d')) - i + 1] AS INTEGER) END)))
        |      % 10 = 0)) AS valid
        |  FROM cands)
        |SELECT doc_id,
        |  CAST(len(cs) AS INTEGER) AS n_candidates,
        |  CAST(len(valid) AS INTEGER) AS n_valid_cards,
        |  len(valid) > 0 AS has_card,
        |  md5(list_reduce(list_prepend(text, valid),
        |      (acc, c) -> replace(acc, c, '<CARD>'))) AS redacted_md5
        |FROM vc ORDER BY doc_id""".stripMargin,

    "txt_gopher_rules" ->
      s"""WITH gd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 700000, repeat('- item x' || chr(10), 12)
         |  FROM documents WHERE doc_id % 31 = 0
         |  UNION ALL
         |  SELECT doc_id + 710000, repeat('this line trails off...' || chr(10), 10)
         |  FROM documents WHERE doc_id % 37 = 0
         |  UNION ALL
         |  SELECT doc_id + 720000, repeat('tag # word ', 30)
         |  FROM documents WHERE doc_id % 41 = 0),
         |${gopherLegs("gd")}
         |SELECT doc_id, n_words,
         |  round(mean_word_len, 5) AS mean_word_len_r,
         |  round(symbol_ratio, 5) AS symbol_ratio_r,
         |  round(bullet_frac, 5) AS bullet_frac_r,
         |  round(ellipsis_frac, 5) AS ellipsis_frac_r,
         |  round(alpha_frac, 5) AS alpha_frac_r,
         |  stop_hits,
         |  (${gopherKeepExpr()}) AS keep
         |FROM gg ORDER BY doc_id""".stripMargin,

    "dd_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        | batch AS (
        |  SELECT doc_id + 100000000 AS doc_id,
        |         text || ' shared tail marker words here' AS text
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000000,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000000,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' extra trailing words'
        |  FROM documents WHERE doc_id % 31 = 0),
        | allc AS (
        |  SELECT 'c' AS side, doc_id, text FROM corpus
        |  UNION ALL SELECT 'b', doc_id, text FROM batch),
        | shf AS (
        |  SELECT DISTINCT side, doc_id, s
        |  FROM (SELECT side, doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM allc),
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh1 AS (
        |  SELECT side, doc_id,
        |    CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
        |  FROM shf),
        | co AS (
        |  SELECT i,
        |    CAST(CAST(('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483646 + 1 AS a,
        |    CAST(CAST(('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483647 AS b
        |  FROM unnest(range(12)) u(i)),
        | sig AS (
        |  SELECT side, doc_id, i, min((a * h + b) % 2147483647) AS mh
        |  FROM sh1, co GROUP BY 1, 2, 3),
        | bandsig AS (
        |  SELECT side, doc_id, i // 2 AS band_id,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
        |  FROM sig GROUP BY 1, 2, 3),
        | cb AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'c'),
        | cbb AS (SELECT band_id, bh FROM cb GROUP BY 1, 2 HAVING count(*) <= 1000),
        | cidx AS (SELECT cb.* FROM cb JOIN cbb USING (band_id, bh)),
        | btb AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'b'),
        | bbb AS (SELECT band_id, bh FROM btb GROUP BY 1, 2 HAVING count(*) <= 1000),
        | bcap AS (SELECT btb.* FROM btb JOIN bbb USING (band_id, bh)),
        | candc AS (
        |  SELECT DISTINCT b.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM btb b JOIN cidx c ON b.band_id = c.band_id AND b.bh = c.bh),
        | candb AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bcap a JOIN bcap b
        |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
        | jc AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candc c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupc AS (
        |  SELECT j.doc_a AS doc_id, min(j.doc_b) AS dup_corpus
        |  FROM jc j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | jb AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candb c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupb AS (
        |  SELECT j.doc_b AS doc_id, min(j.doc_a) AS dup_batch
        |  FROM jb j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1)
        |SELECT bt.doc_id,
        |  CASE WHEN dc.dup_corpus IS NOT NULL THEN 'dup_corpus'
        |       WHEN db.dup_batch IS NOT NULL THEN 'dup_batch'
        |       ELSE 'new' END AS verdict,
        |  COALESCE(dc.dup_corpus, db.dup_batch) AS dup_of
        |FROM batch bt LEFT JOIN dupc dc USING (doc_id)
        |  LEFT JOIN dupb db USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "dd_incremental_stream" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        | b1 AS (
        |  SELECT doc_id + 200000000 AS doc_id,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ') AS text
        |  FROM documents WHERE doc_id % 31 = 0),
        | b2 AS (
        |  SELECT doc_id + 100000000 AS doc_id,
        |         text || ' shared tail marker words here' AS text
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000000,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' extra trailing words'
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 400000000,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' planted tail one'
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000000,
        |    array_to_string(list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')), ' ')
        |      || ' planted tail two'
        |  FROM documents WHERE doc_id % 29 = 0),
        | allc AS (
        |  SELECT 'c' AS side, doc_id, text FROM corpus
        |  UNION ALL SELECT 'x', doc_id, text FROM b1
        |  UNION ALL SELECT 'y', doc_id, text FROM b2),
        | shf AS (
        |  SELECT DISTINCT side, doc_id, s
        |  FROM (SELECT side, doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM allc),
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | sh1 AS (
        |  SELECT side, doc_id,
        |    CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
        |  FROM shf),
        | co AS (
        |  SELECT i,
        |    CAST(CAST(('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483646 + 1 AS a,
        |    CAST(CAST(('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2147483647 AS b
        |  FROM unnest(range(12)) u(i)),
        | sig AS (
        |  SELECT side, doc_id, i, min((a * h + b) % 2147483647) AS mh
        |  FROM sh1, co GROUP BY 1, 2, 3),
        | bandsig AS (
        |  SELECT side, doc_id, i // 2 AS band_id,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
        |  FROM sig GROUP BY 1, 2, 3),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
        | idx0 AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'c'),
        | cap0 AS (SELECT band_id, bh FROM idx0 GROUP BY 1, 2 HAVING count(*) <= 1000),
        | idx0c AS (SELECT idx0.* FROM idx0 JOIN cap0 USING (band_id, bh)),
        | xb AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'x'),
        | xcb AS (SELECT band_id, bh FROM xb GROUP BY 1, 2 HAVING count(*) <= 1000),
        | xcap AS (SELECT xb.* FROM xb JOIN xcb USING (band_id, bh)),
        | candc0 AS (
        |  SELECT DISTINCT b.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM xb b JOIN idx0c c ON b.band_id = c.band_id AND b.bh = c.bh),
        | candb0 AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM xcap a JOIN xcap b
        |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
        | jc0 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candc0 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupc0 AS (
        |  SELECT j.doc_a AS doc_id, min(j.doc_b) AS dup_corpus
        |  FROM jc0 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | jb0 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candb0 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupb0 AS (
        |  SELECT j.doc_b AS doc_id, min(j.doc_a) AS dup_batch
        |  FROM jb0 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | v0 AS (
        |  SELECT bt.doc_id,
        |    CASE WHEN dc.dup_corpus IS NOT NULL THEN 'dup_corpus'
        |         WHEN db.dup_batch IS NOT NULL THEN 'dup_batch'
        |         ELSE 'new' END AS verdict,
        |    COALESCE(dc.dup_corpus, db.dup_batch) AS dup_of
        |  FROM b1 bt LEFT JOIN dupc0 dc USING (doc_id)
        |    LEFT JOIN dupb0 db USING (doc_id)),
        | idx1 AS (
        |  SELECT * FROM idx0
        |  UNION ALL
        |  SELECT xb.* FROM xb JOIN v0 ON v0.doc_id = xb.doc_id AND v0.verdict = 'new'),
        | cap1 AS (SELECT band_id, bh FROM idx1 GROUP BY 1, 2 HAVING count(*) <= 1000),
        | idx1c AS (SELECT idx1.* FROM idx1 JOIN cap1 USING (band_id, bh)),
        | yb AS (SELECT doc_id, band_id, bh FROM bandsig WHERE side = 'y'),
        | ycb AS (SELECT band_id, bh FROM yb GROUP BY 1, 2 HAVING count(*) <= 1000),
        | ycap AS (SELECT yb.* FROM yb JOIN ycb USING (band_id, bh)),
        | candc1 AS (
        |  SELECT DISTINCT b.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM yb b JOIN idx1c c ON b.band_id = c.band_id AND b.bh = c.bh),
        | candb1 AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ycap a JOIN ycap b
        |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
        | jc1 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candc1 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupc1 AS (
        |  SELECT j.doc_a AS doc_id, min(j.doc_b) AS dup_corpus
        |  FROM jc1 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | jb1 AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candb1 c JOIN shf a ON a.doc_id = c.doc_a
        |    JOIN shf b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY 1, 2),
        | dupb1 AS (
        |  SELECT j.doc_b AS doc_id, min(j.doc_a) AS dup_batch
        |  FROM jb1 j JOIN sizes sa ON sa.doc_id = j.doc_a
        |    JOIN sizes sb ON sb.doc_id = j.doc_b
        |  WHERE CAST(j.i AS DOUBLE) / CAST(sa.sz + sb.sz - j.i AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        | v1 AS (
        |  SELECT bt.doc_id,
        |    CASE WHEN dc.dup_corpus IS NOT NULL THEN 'dup_corpus'
        |         WHEN db.dup_batch IS NOT NULL THEN 'dup_batch'
        |         ELSE 'new' END AS verdict,
        |    COALESCE(dc.dup_corpus, db.dup_batch) AS dup_of
        |  FROM b2 bt LEFT JOIN dupc1 dc USING (doc_id)
        |    LEFT JOIN dupb1 db USING (doc_id))
        |SELECT CAST(0 AS INTEGER) AS batch_id, doc_id, verdict, dup_of FROM v0
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), doc_id, verdict, dup_of FROM v1
        |ORDER BY doc_id""".stripMargin,

    "dd_containment" ->
      """WITH allc AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000,
        |    'site header navigation menu links home products ' || text
        |      || ' copyright footer terms privacy policy contact'
        |  FROM documents WHERE doc_id % 37 = 0),
        | shf AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM allc),
        |   unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
        | rare AS (SELECT s FROM shf GROUP BY s HAVING count(*) <= 1000),
        | pruned AS (SELECT doc_id, s FROM shf JOIN rare USING (s)),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
        | inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |  CAST(i.i AS DOUBLE) / sa.sz AS c_ab,
        |  CAST(i.i AS DOUBLE) / sb.sz AS c_ba
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE greatest(CAST(i.i AS DOUBLE) / sa.sz, CAST(i.i AS DOUBLE) / sb.sz) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "txt_warc_roundtrip" ->
      """WITH crlf AS (SELECT chr(13) || chr(10) AS c),
        | resp AS (
        |  SELECT doc_id % 8 AS file_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS INTEGER) AS rec_idx,
        |    'response' AS warc_type,
        |    'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |    CAST(strlen('HTTP/1.1 200 OK' || c || 'Content-Type: text/plain' || c ||
        |      'Content-Length: ' || CAST(strlen(text) AS VARCHAR) || c || c || text)
        |      AS BIGINT) AS content_length,
        |    CAST(200 AS INTEGER) AS http_status,
        |    md5(text) AS body_md5
        |  FROM documents CROSS JOIN crlf),
        | info AS (
        |  SELECT DISTINCT doc_id % 8 AS file_id, CAST(0 AS INTEGER) AS rec_idx,
        |    'warcinfo' AS warc_type, '' AS target_uri,
        |    CAST(17 AS BIGINT) AS content_length, CAST(-1 AS INTEGER) AS http_status,
        |    md5('') AS body_md5
        |  FROM documents)
        |SELECT * FROM info UNION ALL SELECT * FROM resp
        |ORDER BY file_id, rec_idx""".stripMargin,

    "txt_html_extract" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</title><style>body{color:#000}</style>'
        |    || '<script>var x="<p>not text</p>";</script></head>'
        |    || '<body><!-- hidden comment --><div class="nav">Home &amp; Links</div><p>'
        |    || text
        |    || '</p><p>&quot;quoted&quot; &#39;apos&#39; &lt;tag&gt;&nbsp;end</p></body></html>'
        |    AS html
        |  FROM documents),
        | c1 AS (SELECT doc_id, regexp_replace(html,
        |    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM page),
        | c2 AS (SELECT doc_id, regexp_replace(t,
        |    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM c1),
        | c3 AS (SELECT doc_id, regexp_replace(t,
        |    '(?s)<!--.*?-->', ' ', 'g') AS t FROM c2),
        | c4 AS (SELECT doc_id, regexp_replace(t,
        |    '(?i)<(?:br\s*/?|/p|/div|/li|/tr|/h[1-6]|/blockquote)>', chr(10), 'g') AS t FROM c3),
        | c5 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM c4),
        | c6 AS (SELECT doc_id, regexp_replace(t, '&nbsp;', ' ', 'g') AS t FROM c5),
        | c7 AS (SELECT doc_id, regexp_replace(t, '&lt;', '<', 'g') AS t FROM c6),
        | c8 AS (SELECT doc_id, regexp_replace(t, '&gt;', '>', 'g') AS t FROM c7),
        | c9 AS (SELECT doc_id, regexp_replace(t, '&quot;', '"', 'g') AS t FROM c8),
        | c10 AS (SELECT doc_id, regexp_replace(t, '&#39;', chr(39), 'g') AS t FROM c9),
        | c11 AS (SELECT doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t FROM c10),
        | c12 AS (SELECT doc_id, regexp_replace(t, '[ \t\r]+', ' ', 'g') AS t FROM c11),
        | chain AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(t, '\s*\n\s*', chr(10), 'g'),
        |      '^\s+|\s+$', '', 'g') AS ext FROM c12)
        |SELECT doc_id, md5(ext) AS text_md5,
        |  CAST(length(ext) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(ext, chr(10))) AS INTEGER) AS n_lines
        |FROM chain ORDER BY doc_id""".stripMargin,

    "dd_url_blocklist" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 19 = 0 THEN '' ELSE 'https://' END) ||
        |    (CASE WHEN doc_id % 13 = 0 THEN 'user:pw@' ELSE '' END) ||
        |    (['good.example','evil.example','www.evil.example',
        |      'notevil.example','news.example'])[CAST(doc_id % 5 + 1 AS INTEGER)] ||
        |    (CASE WHEN doc_id % 17 = 0 THEN '.' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '/casino-bonus/page'
        |          ELSE '/article/' || CAST(doc_id AS VARCHAR) END) AS url
        |  FROM documents),
        | parts AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(
        |      regexp_replace(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*:)?//', ''),
        |      '^([^/?#]*)', 1)), '^[^/?#]*@', ''), ':[0-9]+$', ''), '\.$', '') AS host,
        |    lower(regexp_extract(
        |      regexp_replace(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*:)?//', ''),
        |      '^[^/?#]*(.*)$', 1)) AS rest
        |  FROM u)
        |SELECT doc_id, url,
        |  (host = 'evil.example' OR host LIKE '%.evil.example'
        |   OR rest LIKE '%casino%') AS blocked
        |FROM parts ORDER BY doc_id""".stripMargin,

    "txt_classifier_train" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |         THEN text || ' premqual marker signal tokens' ELSE text END AS text,
        |    CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        | feats AS (
        |  SELECT DISTINCT doc_id, label,
        |    CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT) % 64 AS bucket
        |  FROM (SELECT doc_id, label, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |        FROM docs2)),
        | e1 AS (SELECT DISTINCT doc_id, CAST(label AS BIGINT) AS err FROM feats),
        | w1 AS (SELECT f.bucket, CAST(sum(e.err) AS BIGINT) AS w
        |        FROM feats f JOIN e1 e USING (doc_id) GROUP BY 1),
        | m2 AS (SELECT f.doc_id, f.label, COALESCE(sum(w1.w), 0) AS margin
        |        FROM feats f LEFT JOIN w1 ON w1.bucket = f.bucket GROUP BY 1, 2),
        | e2 AS (SELECT doc_id,
        |          CAST(label - (CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS err
        |        FROM m2),
        | u2 AS (SELECT f.bucket, CAST(sum(e.err) AS BIGINT) AS u
        |        FROM feats f JOIN e2 e USING (doc_id) GROUP BY 1),
        | w2 AS (SELECT COALESCE(w1.bucket, u2.bucket) AS bucket,
        |          COALESCE(w1.w, 0) + COALESCE(u2.u, 0) AS w
        |        FROM w1 FULL JOIN u2 ON w1.bucket = u2.bucket),
        | m3 AS (SELECT f.doc_id, f.label, COALESCE(sum(w2.w), 0) AS margin
        |        FROM feats f LEFT JOIN w2 ON w2.bucket = f.bucket GROUP BY 1, 2),
        | e3 AS (SELECT doc_id,
        |          CAST(label - (CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS err
        |        FROM m3),
        | u3 AS (SELECT f.bucket, CAST(sum(e.err) AS BIGINT) AS u
        |        FROM feats f JOIN e3 e USING (doc_id) GROUP BY 1),
        | w3 AS (SELECT COALESCE(w2.bucket, u3.bucket) AS bucket,
        |          COALESCE(w2.w, 0) + COALESCE(u3.u, 0) AS w
        |        FROM w2 FULL JOIN u3 ON w2.bucket = u3.bucket)
        |SELECT bucket, w FROM w3 WHERE w != 0 ORDER BY bucket""".stripMargin,

    "pipe_crawl_stream" -> CrawlLadderOracle,

    // Same content, same verdicts: the WARC leg is a pure container
    // round-trip ahead of the identical pipeline, so the oracle is
    // shared verbatim.
    "pipe_warc_crawl_stream" -> CrawlLadderOracle,


    "txt_c4_rules" -> C4RulesOracle,

    "txt_repetition_full" -> RepSignalsOracle,

    "txt_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        | e AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        | n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM e)
        |SELECT n.n_tokens,
        |  CAST((SELECT count(*) FROM e WHERE c * 100 > n.n_tokens) AS BIGINT)
        |    AS n_heavy_exact,
        |  TRUE AS cover_ok, TRUE AS bound_ok
        |FROM n""".stripMargin,

    "txt_fertility" ->
      """SELECT lang,
        |  CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_words,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_subtokens,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  round(CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
        |    / CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS DOUBLE), 5) AS fertility_r,
        |  round(CAST(sum(strlen(text)) AS DOUBLE)
        |    / CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE), 5) AS bytes_per_subtoken_r
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "dd_decontam" ->
      """WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        | corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000, 'prelude words ' || text || ' coda words' FROM ev),
        | evg AS (SELECT DISTINCT s FROM
        |  (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM ev),
        |  unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))) u(s)),
        | cg AS (SELECT DISTINCT doc_id, s FROM
        |  (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM corpus),
        |  unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))) u(s)),
        | hits AS (SELECT doc_id, count(*) AS n_hits FROM cg
        |          WHERE s IN (SELECT s FROM evg) GROUP BY 1)
        | SELECT c.doc_id, COALESCE(n_hits, 0) AS n_hits,
        |        COALESCE(n_hits, 0) > 0 AS contaminated
        | FROM corpus c LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin,

    "dd_semdedup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id < 40),
        | cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
        |          FROM embeddings ORDER BY vec_id LIMIT 8),
        | asg AS (SELECT vec_id, centroid_id FROM (
        |   SELECT b.vec_id, c.centroid_id, row_number() OVER (PARTITION BY b.vec_id
        |     ORDER BY list_cosine_similarity(b.e, c.ce) DESC, c.centroid_id) AS r
        |   FROM base b, cent c) WHERE r = 1),
        | dom AS (SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        |  JOIN base ea ON ea.vec_id = a.vec_id
        |  JOIN base eb ON eb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(ea.e, eb.e) >= 0.9)
        | SELECT a.vec_id, a.centroid_id AS cluster_id, (d.vec_id IS NULL) AS kept
        | FROM asg a LEFT JOIN dom d ON a.vec_id = d.vec_id
        | ORDER BY a.vec_id""".stripMargin,

    "txt_dup_strip" ->
      """WITH sdocs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, text || ' tail marker ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id < 50),
        | toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM sdocs),
        | base AS (SELECT doc_id, t, len(t) AS n_tokens FROM toks),
        | th AS (
        |  SELECT doc_id, n_tokens,
        |    list_transform(t, s ->
        |      CAST(CAST(('0x' || substr(md5(s), 1, 12)) AS UBIGINT) AS BIGINT)) AS v
        |  FROM base WHERE n_tokens >= 20),
        | grams AS (
        |  SELECT doc_id, p,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), v[p + 1:p + 20]),
        |      (acc, x) -> ((acc >> 31) * 131 + x) % 2147483647 * 2147483648
        |                  + ((acc & 2147483647) * 137 + x) % 2147483629) AS h
        |  FROM th, unnest(range(0, n_tokens - 20 + 1)) u(p)),
        | dh AS (SELECT h, min(doc_id) AS owner FROM grams
        |        GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        | marked AS (
        |  SELECT g.doc_id, g.p, g.p + 19 AS pe
        |  FROM grams g JOIN dh USING (h) WHERE g.doc_id <> dh.owner),
        | regs AS (
        |  SELECT doc_id, p, pe,
        |    max(pe) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |  FROM marked),
        | regs3 AS (
        |  SELECT doc_id, p, pe,
        |    sum(CASE WHEN rm IS NULL OR p > rm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
        |  FROM regs),
        | rsum AS (SELECT doc_id, rid, min(p) AS rs, max(pe) AS re FROM regs3 GROUP BY 1, 2),
        | perdoc AS (
        |  SELECT doc_id, CAST(sum(re - rs + 1) AS BIGINT) AS n_removed_tokens,
        |         CAST(count(*) AS BIGINT) AS n_cut_regions
        |  FROM rsum GROUP BY 1),
        | keptagg AS (
        |  SELECT x.doc_id, string_agg(x.tok, ' ' ORDER BY x.i) AS cleaned
        |  FROM (SELECT b.doc_id, b.t[CAST(i AS INTEGER) + 1] AS tok, i
        |        FROM base b, unnest(range(0, CAST(b.n_tokens AS BIGINT))) u(i)) x
        |  WHERE NOT EXISTS (SELECT 1 FROM rsum r
        |    WHERE r.doc_id = x.doc_id AND x.i BETWEEN r.rs AND r.re)
        |  GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n_tokens AS INTEGER) AS n_tokens,
        |  CAST(COALESCE(p.n_removed_tokens, 0) AS BIGINT) AS n_removed_tokens,
        |  CAST(COALESCE(p.n_cut_regions, 0) AS BIGINT) AS n_cut_regions,
        |  md5(COALESCE(k.cleaned, '')) AS cleaned_md5
        |FROM base b LEFT JOIN perdoc p USING (doc_id) LEFT JOIN keptagg k USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "txt_code_quality" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 11 = 0 THEN '// auto-generated' || chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 17 = 0 THEN text
        |          ELSE regexp_replace(text, ' ', chr(10), 'g') END) ||
        |    (CASE WHEN doc_id % 9 = 0 THEN chr(10) || repeat('x', 1200) ELSE '' END) ||
        |    (CASE WHEN doc_id % 13 = 0 THEN chr(10) || repeat('00;' || chr(10), 1100) ELSE '' END) AS t
        |  FROM documents),
        | f AS (SELECT doc_id, t, str_split(t, chr(10)) AS raw FROM c),
        | f2 AS (
        |  SELECT doc_id, t, CAST(len(raw) AS BIGINT) AS nraw,
        |    CASE WHEN len(raw) > 1 AND raw[len(raw)] = ''
        |         THEN raw[1:len(raw) - 1] ELSE raw END AS ls
        |  FROM f),
        | m AS (
        |  SELECT doc_id, t,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(list_max(list_transform(ls, x -> length(x))) AS BIGINT) AS max_line_chars,
        |    CAST(length(t) AS BIGINT) - (nraw - 1) AS sum_len,
        |    lower(array_to_string(ls[1:5], chr(10))) AS head
        |  FROM f2),
        | g AS (
        |  SELECT doc_id, n_lines, max_line_chars,
        |    CAST(sum_len * 1000000 // greatest(n_lines, 1) AS BIGINT) AS mean_line_u,
        |    CAST(CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS BIGINT) * 1000000
        |      // greatest(length(t), 1) AS BIGINT) AS alpha_frac_u,
        |    (contains(head, 'auto-generated') OR contains(head, 'do not edit')) AS autogen
        |  FROM m)
        |SELECT doc_id, n_lines, max_line_chars, mean_line_u, alpha_frac_u, autogen,
        |  (max_line_chars <= 1000 AND mean_line_u <= 100000000
        |   AND alpha_frac_u >= 250000 AND NOT autogen) AS keep
        | FROM g ORDER BY doc_id""".stripMargin,

    "txt_license_detect" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 10 = 1 THEN ' SPDX-License-Identifier: MIT'
        |          WHEN doc_id % 10 = 2 THEN ' SPDX-License-Identifier: GPL-3.0-only'
        |          WHEN doc_id % 10 = 3 THEN ' Licensed under the Apache License, Version 2.0'
        |          WHEN doc_id % 10 = 4 THEN ' Released under the GNU General Public License.'
        |          WHEN doc_id % 10 = 5 THEN ' SPDX-License-Identifier: X-Custom'
        |          ELSE '' END) AS t
        |  FROM documents),
        | e AS (
        |  SELECT doc_id, t,
        |    regexp_replace(COALESCE(regexp_extract(t, 'SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)', 1), ''), '\.$', '') AS spdx
        |  FROM p)
        |SELECT doc_id, spdx,
        |  CASE WHEN spdx <> '' THEN
        |    (CASE WHEN lower(spdx) LIKE 'gpl%' OR lower(spdx) LIKE 'agpl%'
        |            OR lower(spdx) LIKE 'lgpl%' THEN 'copyleft'
        |          WHEN lower(spdx) = 'mit' OR lower(spdx) LIKE 'apache%'
        |            OR lower(spdx) LIKE 'bsd%' OR lower(spdx) = 'isc'
        |            OR lower(spdx) = 'unlicense' THEN 'permissive'
        |          ELSE 'unknown' END)
        |   WHEN contains(lower(t), 'gnu general public license')
        |     OR contains(lower(t), 'copyleft') THEN 'copyleft'
        |   WHEN contains(lower(t), 'mit license')
        |     OR contains(lower(t), 'apache license')
        |     OR contains(lower(t), 'bsd license') THEN 'permissive'
        |   ELSE 'unknown' END AS license_class
        | FROM e ORDER BY doc_id""".stripMargin,

    "dd_decontam_embed" ->
      """WITH ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS e
        |            FROM embeddings WHERE vec_id % 97 = 0),
        | corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT eval_id + 600000, e FROM ev),
        | scored AS (
        |  SELECT c.vec_id, v.eval_id,
        |    CAST(floor(list_cosine_similarity(c.e, v.e) * 100000 + 0.5) AS BIGINT) AS cos_u
        |  FROM corpus c, ev v),
        | best AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |            ORDER BY cos_u DESC, eval_id) AS rk FROM scored)
        |SELECT vec_id, eval_id, cos_u, cos_u >= 95000 AS contaminated
        | FROM best WHERE rk = 1 ORDER BY vec_id""".stripMargin,

  )
}
