package graft.entries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analytics.{Bitext, CleanPipeline, Dedup, Sampling, Sft, Similarity, TextAnalysis}

import graft.SparkEntry._


/** Driver-contract entries: post-training curation (SFT/DPO), mixture
  * and sampling policies (curriculum/DoReMi/anneal/token-budget), bitext
  * margin mining, and retrieval (BM25 / hybrid RRF).
  *
  * Pure move out of [[AnalyticsEntries]] (round 16, file-size guideline):
  * the entry and oracle text is byte-identical to its former spelling;
  * the combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object SftMixtureEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "smp_split" -> ((s, dir) =>
      Sampling.split(T(s, dir, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")),

    "smp_upsample" -> ((s, dir) =>
      // Repeat-factor upsampling (the epoch-repeat rule for rare
      // strata): de x2.5, fr x3, everything else passes through once.
      // Each row contributes floor(f) or ceil(f) copies by hash bucket.
      Sampling.upsampleRepeat(T(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("de" -> 2.5, "fr" -> 3.0))
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")),

    "smp_source_cap" -> ((s, dir) => {
      // Per-source share cap at 30%: the corpus plus planted extra src0
      // docs (doc_id+500000 for the first 40% of ids) makes src0
      // over-represented — it alone thins to cap/share; every other
      // source passes whole. The domain-cap rule pretraining mixes
      // apply before temperature rebalancing.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("source"))
      val maxId = docs.agg(max("doc_id")).first().getLong(0)
      val planted = docs.where(col("doc_id") < (maxId + 1) * 2 / 5)
        .select((col("doc_id") + 500000).as("doc_id"), lit("src0").as("source"))
      Sampling.capSourceShare(docs.unionByName(planted), col("doc_id"), col("source"),
          cap = 0.30)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    "smp_epoch_shuffle" -> ((s, dir) =>
      // Global deterministic permutation for epoch 7 — two-phase bucketed
      // rank, no corpus-wide window (the oracle's row_number IS one; the
      // engine must re-derive the identical order scalably).
      Sampling.epochShuffle(T(s, dir, "documents"), col("doc_id"), epoch = 7)
        .select("doc_id", "pos")
        .orderBy("doc_id")),

    "smp_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(T(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.8, "zh" -> 0.0), defaultRate = 0.2)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "smp_temperature" -> ((s, dir) =>
      Sampling.temperatureMixture(T(s, dir, "documents"), col("doc_id"), col("lang"))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "smp_topk_group" -> ((s, dir) =>
      Sampling.topKPerGroup(T(s, dir, "documents"), col("source"), col("doc_id"), 3)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy("source", "rk")),

    "smp_dsir" -> ((s, dir) => {
      // DSIR importance resampling: the 'en' slice is the target
      // domain, the full corpus the raw pool; hashed-bigram LLR scores
      // in integer micro-units plus hash-derived Gumbel noise pick
      // k=100 docs without replacement. The oracle recomputes every
      // bucket LLR, every score, and the exact top-k cut.
      val docs = T(s, dir, "documents")
      Sampling.importanceResample(docs, docs.where(col("lang") === "en"),
          col("doc_id"), col("text"), k = 100)
        .orderBy("doc_id")
    }),

    "pipe_mixture" -> ((s, dir) => {
      // The full mixture-construction pipeline composed end-to-end:
      // temperature-rebalance the corpus, upsample rare strata (de x2.5,
      // fr x3), epoch-3 deterministic shuffle, then pack the SHUFFLED
      // stream into 128-token sequences (the shuffle's dense `pos` keys
      // the packing order). Each stage is an already-oracled operator;
      // the oracle replays the whole chain in SQL keyed by the composite
      // uid = doc_id*4 + copy. Every boundary in the final packing
      // depends on every upstream decision, so one hash-match certifies
      // the entire composition bit-for-bit.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val mixed = Sampling.temperatureMixture(docs, col("doc_id"), col("lang"))
      val up = Sampling.upsampleRepeat(mixed, col("doc_id"), col("lang"),
        Map("de" -> 2.5, "fr" -> 3.0))
      val keyed = up.select((col("doc_id") * 4 + col("copy")).as("uid"), col("text"))
      val shuffled = Sampling.epochShuffle(keyed, col("uid"), epoch = 3)
      TextAnalysis.packSequences(shuffled, col("pos"), col("text"), contextLen = 128)
        .withColumnRenamed("doc_id", "pos")
        .orderBy("seq_id", "pos")
    }),

    "txt_bm25_topk" -> ((s, dir) => {
      // BM25 retrieval: query = the corpus's 5 most frequent tokens
      // (deterministic tie-break), top-20 documents by the exact
      // integer micro-unit score. The oracle recomputes idf/tf/avgdl
      // with the identical expression shape.
      val docs = T(s, dir, "documents")
      val q = TextAnalysis.vocabulary(docs, col("text"), 5)
        .select(col("tok").as("term"))
      TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"), q, k = 20)
        .orderBy("rank")
    }),

    "ret_hybrid_rrf" -> ((s, dir) => {
      // Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
      // leg ("more-like-this" on each query doc's full text) and the
      // SQ8 integer-dot dense leg each rank a per-query top-20, and
      // RRF (k=60) fuses them in exact micro-units. Every stage —
      // BM25 contribution flooring, SQ8 train/encode/reconstruct, the
      // RRF fold — is integer arithmetic, so the oracle replays the
      // whole hybrid stack end-to-end (both legs reuse spellings the
      // standalone txt_bm25_topk / ann_sq8_topk oracles already pin).
      val docs = T(s, dir, "documents")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val lex = graft.analytics.Retrieval.bm25PerQuery(
        docs, col("doc_id"), col("text"), queries, k = 20)
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val model = Similarity.sqTrain(emb)
      val qv = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val dense = Similarity.sqTopK(
          Similarity.sqEncode(emb, model),
          Similarity.sqEncode(qv, model, vecCol = "query_vec"), model, 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.analytics.Retrieval.rrfFuse(
          lex.select("query_id", "doc_id", "rank"), dense, k = 10)
        .orderBy("query_id", "rank")
    }),

    "smp_dedup_weights" -> ((s, dir) => {
      // Count-aware dedup: near-dup clusters (the dd_cluster pipeline)
      // collapse to their min-id canonical doc, which carries the
      // cluster's multiplicity as an integer repeat weight — dedup
      // that preserves frequency mass for mixture construction instead
      // of flattening it. The oracle replays components (recursive
      // CTE) and the weight fold.
      val docs = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          n = 3, threshold = 0.05, maxDf = 100)
        .select("doc_a", "doc_b")
      Sampling.dedupWeights(
          Dedup.connectedComponents(pairs, docs.select("doc_id")))
        .orderBy("doc_id")
    }),

    "smp_ccnet_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail stratification: exact integer mean-NLL
      // sort key, two-phase range rank, equal-mass thirds. The oracle
      // replays the rank with one SQL row_number over the same scores.
      val docs = T(s, dir, "documents")
      graft.analytics.Sampling.perplexityBuckets(
          TextAnalysis.bigramPerplexity(docs, docs.where(col("lang") === "en"),
            col("doc_id"), col("text")))
        .orderBy("doc_id")
    }),

    "pipe_fineweb" -> ((s, dir) => {
      // The modern curation recipe end-to-end over the raw corpus:
      // Gopher quality battery AND repetition battery -> exact dedup
      // (first id wins on normalized text) -> drop the CCNet
      // perplexity tail. One row of funnel counts plus the exact
      // doc-id sum of the final set — the oracle recomputes every
      // stage from its own shared legs.
      val docs = T(s, dir, "documents")
      val buckets = graft.analytics.Sampling.perplexityBuckets(
        TextAnalysis.bigramPerplexity(docs, docs.where(col("lang") === "en"),
          col("doc_id"), col("text")))
      // corpus-calibrated gates (the synthetic salad carries at most one
      // canonical stop word and ~54 words/doc); same battery, same rules
      CleanPipeline.fineWebFunnel(docs, col("doc_id"), col("text"), buckets,
        minWords = 30, minStopHits = 1)
    }),

    "pipe_fineweb_fuzzy" -> ((s, dir) => {
      // The funnel with the dedup stage the real FineWeb recipe uses:
      // MinHash-LSH near-dup clustering instead of exact text hashing.
      // Plants: every 23rd doc gets a NEAR-dup copy (5 appended words,
      // Jaccard ~0.9 — exact dedup would MISS it), every 41st an exact
      // copy. Survivor shingles sign with the parity hash family, band
      // (r=2, hot buckets capped), Jaccard-verify at 0.5, and cluster;
      // min id per cluster survives into the CCNet tail drop. The
      // oracle replays signatures, banding, verification, and a
      // recursive-CTE component labeling end-to-end.
      val docs = T(s, dir, "documents")
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 800000).as("doc_id"),
            concat(col("text"), lit(" shared tail marker words here")).as("text")))
        .unionByName(docs.where(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 900000).as("doc_id"), col("text")))
      val buckets = graft.analytics.Sampling.perplexityBuckets(
        TextAnalysis.bigramPerplexity(corpus, docs.where(col("lang") === "en"),
          col("doc_id"), col("text")))
      CleanPipeline.fineWebFunnelFuzzy(corpus, col("doc_id"), col("text"),
        buckets, minWords = 30, minStopHits = 1)
    }),

    "pipe_dolma" -> ((s, dir) => {
      // Dolma curation funnel: the Gopher battery gates the incoming
      // shard, then cross-shard paragraph Bloom dedup fires INSIDE
      // the funnel — the ingested shard (doc_id % 3 == 0) folds its
      // 10-token paragraphs into the 4096-bit filter (k=3, parity
      // family); incoming docs (plus re-crawled exact copies of every
      // 21st ingested doc) probe it, possibly-present paragraphs
      // drop, and a doc survives with >= 1 retained paragraph. The
      // exact companion runs beside the probe, so the one funnel row
      // also prices the small filter's false-positive loss
      // (n_exact - n_bloom docs, fp_paras_dropped paragraphs). Stage
      // counts + final id-sum; the oracle replays battery, bit
      // array, probe, and truth. Reuses Dedup.bloomBits/bloomProbe
      // unchanged.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val ingested = docs.where(col("doc_id") % 3 === 0)
      val incoming = docs.where(col("doc_id") % 3 =!= 0)
        .unionByName(ingested.where(col("doc_id") % 21 === 0)
          .select((col("doc_id") + 950000).as("doc_id"), col("text")))
      CleanPipeline.dolmaFunnel(incoming, ingested, col("doc_id"),
        col("text"), mBits = 4096L, k = 3, paraTokens = 10,
        minWords = 30, minStopHits = 1)
    }),

    "smp_token_budget" -> ((s, dir) => {
      // Token-budget mixture planner: 2M-token budget over the 20
      // sources with index-derived ppm weights (every third source
      // weighted tiny → pure downsample; the rest over-weighted →
      // repeat epochs + a partial final epoch). Exact integer div
      // everywhere; the oracle recomputes the identical plan.
      val docs = T(s, dir, "documents")
      val weights = docs.select(col("source")).distinct()
        .withColumn("__i", substring(col("source"), 4, 10).cast("int"))
        .select(col("source"),
          when(col("__i") % 3 === 0, 500L)
            .otherwise(lit(20000L) + (col("__i") % 7) * 10000L)
            .as("weight_ppm"))
      graft.analytics.Sampling.tokenBudgetPlan(docs, col("source"),
          TextAnalysis.bpeTokenCount(col("text")), weights,
          budgetTokens = 2000000L)
        .orderBy("source")
    }),

    "sft_assemble" -> ((s, dir) => {
      // Flatten docs into 50 multi-turn conversations (conv = doc_id %
      // 50 standing in for the (file, line) provenance key), turns in
      // doc order, roles alternating user/assistant from turn 0.
      Sft.assemble(T(s, dir, "documents"), col("doc_id"), col("text"), 50)
        .orderBy("conv_id", "turn_idx")
    }),

    "sft_render" -> ((s, dir) => {
      // Chat-template serialization: <|role|>\ncontent<|end|>\n per
      // turn plus the <|assistant|>\n generation prompt — the exact
      // string the tokenizer would see. The oracle re-renders every
      // conversation with an ordered string_agg.
      Sft.render(Sft.assemble(T(s, dir, "documents"), col("doc_id"),
          col("text"), 50))
        .orderBy("conv_id")
    }),

    "sft_validate" -> ((s, dir) => {
      // Structural gate with planted violations: 40 convs of 12-13
      // turns (so within_max=12 flags the long ones); docs % 37 == 0
      // dropped AFTER role assignment (creates same-role adjacencies
      // and missing first/last turns); docs % 41 == 0 blanked
      // (whitespace-only turns). The oracle replays every rule.
      val base = Sft.assemble(T(s, dir, "documents"), col("doc_id"),
        col("text"), 40)
      val planted = base
        .withColumn("content", when(col("doc_id") % 41 === 0, lit("  "))
          .otherwise(col("content")))
        .where(col("doc_id") % 37 =!= 0)
      Sft.validate(planted, maxTurns = 12).orderBy("conv_id")
    }),

    "sft_turn_dedup" -> ((s, dir) => {
      // Assistant-side conversation dedup: convs 0-19 re-appear at
      // +1000 with every USER turn paraphrased (assistant side
      // identical => must dedup to the original); convs 0-9 re-appear
      // at +2000 with assistant text uppercased + padded (must STILL
      // dedup — the signature is normalization-invariant).
      val base = Sft.assemble(T(s, dir, "documents"), col("doc_id"),
        col("text"), 50)
      val copy1 = base.where(col("conv_id") < 20)
        .select((col("conv_id") + 1000).as("conv_id"), col("turn_idx"),
          col("role"), col("doc_id"),
          when(col("role") === "user", concat(lit("rephrased: "), col("content")))
            .otherwise(col("content")).as("content"))
      val copy2 = base.where(col("conv_id") < 10)
        .select((col("conv_id") + 2000).as("conv_id"), col("turn_idx"),
          col("role"), col("doc_id"),
          when(col("role") === "assistant",
              upper(concat(col("content"), lit("  "))))
            .otherwise(col("content")).as("content"))
      Sft.dedupByAssistant(base.unionByName(copy1).unionByName(copy2))
        .orderBy("conv_id")
    }),

    "sft_token_trim" -> ((s, dir) => {
      // Context-window packing: keep the longest whole-turn SUFFIX
      // within 256 whitespace tokens, start re-aligned to a user turn.
      // The oracle recomputes the reverse cumulative sums and the
      // start-alignment rule per conversation.
      Sft.trimToBudget(Sft.assemble(T(s, dir, "documents"), col("doc_id"),
          col("text"), 50), budgetTokens = 256)
        .orderBy("conv_id", "turn_idx")
    }),

    "sft_loss_mask" -> ((s, dir) =>
      // SFT loss masking: per turn, the exact character span its
      // content occupies in the rendered training string and whether
      // it is trainable (assistant spans only). The oracle recomputes
      // every cumulative offset from the template arithmetic.
      Sft.lossMask(Sft.assemble(T(s, dir, "documents"), col("doc_id"),
          col("text"), 50))
        .orderBy("conv_id", "turn_idx")),

    "sft_parse_jsonl" -> ((s, dir) => {
      // ShareGPT/OpenAI-format ingestion: each doc becomes a JSON
      // conversation string (user turn = the text, assistant = an
      // echo), with literal-replace escaping of backslash/quote/
      // newline; every 23rd doc's content carries planted quotes and
      // a backslash (the escaping must round-trip), every 19th doc is
      // broken JSON (must yield exactly one _malformed_ row). The
      // oracle builds the identical strings and re-parses them with
      // DuckDB's JSON engine — two independent parsers must agree on
      // every extracted field.
      val docs = T(s, dir, "documents")
      val content = when(col("doc_id") % 23 === 0,
        concat(col("text"), lit(" \"quoted\" and \\ backslash")))
        .otherwise(col("text"))
      def esc(c: Column): Column =
        replace(replace(replace(c, lit("\\"), lit("\\\\")),
          lit("\""), lit("\\\"")), lit("\n"), lit("\\n"))
      val json = when(col("doc_id") % 19 === 0, lit("{broken"))
        .otherwise(concat(lit("{\"messages\":[{\"role\":\"user\",\"content\":\""),
          esc(content),
          lit("\"},{\"role\":\"assistant\",\"content\":\"echo: "),
          esc(content), lit("\"}]}")))
      Sft.parseChatJson(docs.select(col("doc_id"), json.as("j")),
          col("doc_id"), col("j"))
        .orderBy("conv_id", "turn_idx")
    }),

    "sft_pref_pairs" -> ((s, dir) => {
      // DPO preference-pair prep: docs grouped 5-per-prompt (prompt =
      // doc_id % 100) as scored responses (score = n_chars, an integer
      // quality proxy); chosen = best, rejected = worst, kept only
      // with >= 2 responses and margin >= 50. The oracle replays both
      // rank windows and the margin filter.
      val responses = T(s, dir, "documents")
        .select((col("doc_id") % 100).as("prompt_id"),
          col("doc_id").as("resp_id"), col("n_chars").cast("long").as("score"))
      Sft.preferencePairs(responses, minMargin = 50L).orderBy("prompt_id")
    }),

    "smp_length_buckets" -> ((s, dir) => {
      // Dynamic batching: rank by token count, cut into 32-row
      // batches, report per-row padding against the batch max. The
      // oracle recomputes the rank, the cut, and every pad.
      val docs = T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
      Sampling.lengthBuckets(docs, col("doc_id"), col("nt"), batchSize = 32)
        .orderBy("doc_id")
    }),

    "pipe_sft" -> ((s, dir) => {
      // End-to-end SFT funnel over the planted chat fixture: assemble
      // (40 convs) with blanked (%41) and dropped (%37) turns plus
      // user-paraphrased duplicate convs (+1000 for conv<20) →
      // validate gate (ok only) → assistant-side dedup (canonical
      // only) → 256-token suffix trim → template render. The oracle
      // replays the whole chain, so stage INTERACTIONS (a validation
      // reject never reaching dedup, a trimmed turn never rendered)
      // are hash-certified, not just each stage alone.
      val base = Sft.assemble(T(s, dir, "documents"), col("doc_id"),
        col("text"), 40)
      val planted = base
        .withColumn("content", when(col("doc_id") % 41 === 0, lit("  "))
          .otherwise(col("content")))
        .where(col("doc_id") % 37 =!= 0)
      val copies = planted.where(col("conv_id") < 20)
        .select((col("conv_id") + 1000).as("conv_id"), col("turn_idx"),
          col("role"), col("doc_id"),
          when(col("role") === "user", concat(lit("rephrased: "), col("content")))
            .otherwise(col("content")).as("content"))
      val turns = planted.unionByName(copies)
      val okConvs = Sft.validate(turns, maxTurns = 12)
        .where(col("ok")).select("conv_id")
      val valid = turns.join(okConvs, Seq("conv_id"))
      val canon = Sft.dedupByAssistant(valid)
        .where(col("is_canonical")).select("conv_id")
      val deduped = valid.join(canon, Seq("conv_id"))
      val kept = Sft.trimToBudget(deduped, budgetTokens = 256)
        .where(col("kept")).select("conv_id", "turn_idx")
      Sft.render(deduped.join(kept, Seq("conv_id", "turn_idx")))
        .orderBy("conv_id")
    }),

    "pipe_sft_stream" -> ((s, dir) => {
      // Continuous SFT curation with a GROWING assistant-sig index.
      // Seed corpus = the 40 assembled convs; the dup/new material is
      // built from the even-turn convs 20-39 (the odd-turn ones end on
      // a user turn and would fail validation). Batch 0: (A) convs
      // 20-27 at +1000 user-paraphrased -> dup_corpus of the original;
      // (B) convs 28-33 at +5000 with assistant text token-reversed ->
      // new (admitted); (C) convs 0-4 at +7000 stripped to user turns
      // only -> invalid (never judged, never admitted). Batch 1: (D)
      // +6000 = copies of the +5000 convs -> dup_corpus OF +5000 (the
      // growing-index proof: per-arrival dedup would call them new);
      // (E) convs 34-37 at +2000, assistant reversed + fresh suffix ->
      // new; (F) convs 38-39 at +3000/+4000 sharing an assistant side
      // -> +3000 new, +4000 dup_batch of +3000. The oracle replays
      // both batches in sequence including the index growth.
      val base = Sft.assemble(T(s, dir, "documents"), col("doc_id"),
        col("text"), 40).select("conv_id", "turn_idx", "role", "content")
      val rev = concat_ws(" ", reverse(split(trim(lower(col("content"))), "\\s+")))
      def shift(df: DataFrame, off: Long): DataFrame =
        df.select((col("conv_id") + off).as("conv_id"), col("turn_idx"),
          col("role"), col("content"))
      def userPerturb(df: DataFrame, p: String): DataFrame =
        df.withColumn("content", when(col("role") === "user",
          concat(lit(p), col("content"))).otherwise(col("content")))
      def asstRev(df: DataFrame, suffix: String): DataFrame =
        df.withColumn("content", when(col("role") === "assistant",
          concat(rev, lit(suffix))).otherwise(col("content")))
      val b0 = userPerturb(shift(base.where(col("conv_id").between(20, 27)), 1000),
          "rephrased: ")
        .unionByName(asstRev(shift(base.where(col("conv_id").between(28, 33)), 5000), ""))
        .unionByName(shift(base.where(col("conv_id") < 5 &&
          col("role") === "user"), 7000))
      val b1 = userPerturb(asstRev(shift(base.where(col("conv_id").between(28, 33)), 6000),
          ""), "asked again: ")
        .unionByName(asstRev(shift(base.where(col("conv_id").between(34, 37)), 2000),
          " fresh batch words"))
        .unionByName(userPerturb(asstRev(shift(base.where(col("conv_id").between(38, 39)),
          3000), " pair tail"), "first voice: "))
        .unionByName(userPerturb(asstRev(shift(base.where(col("conv_id").between(38, 39)),
          4000), " pair tail"), "second voice: "))
      val out = cleanupOnExit(
        java.nio.file.Files.createTempDirectory("graft_sft_out")).toString
      Sft.initCurationState(base, s"$out/state")
      val inDir = AnalyticsEntries.stageOrderedBatches("graft_sft", Seq(b0, b1))
      val stream = graft.streaming.Transforms.PathInput(
        inDir, b0.schema, maxFilesPerTrigger = Some(1)).stream(s)
      Sft.curateStream(stream, s"$out/state", s"$out/verdicts",
        s"$out/ckpt", maxTurns = 13)
      s.read.parquet(s"$out/verdicts")
        .select(col("batch").cast("int").as("batch_id"), col("conv_id"),
          col("verdict"), col("dup_of"))
        .orderBy("conv_id")
    }),

    // ----- training-data pipeline: bitext mining -----,

    "bt_margin_mine" -> ((s, dir) => {
      // Margin-based bitext mining (CCMatrix ratio margin), exact
      // certification leg: even vec_ids are the "source language"
      // corpus, odd the "target"; k=4 neighborhood averages; mined =
      // forward-best candidate with margin >= 1.0. Integer micro-unit
      // scores end-to-end; the oracle replays every pair, both kNN
      // averages, and the margin division.
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val src = emb.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("embedding"))
      val tgt = emb.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding"))
      Bitext.marginMineExact(src, tgt, k = 4, marginThresholdU = 1000000L)
        .orderBy("src_id")
    }),

    "bt_margin_recall" -> ((s, dir) => {
      // Certifies the PRODUCTION path (IVF-candidate margin mining,
      // bt: two bounded ANN probes instead of the all-pairs product):
      // >= 50% of the exact leg's mined pairs must be recovered. The
      // oracle recomputes the exact mined-pair count; the boolean is
      // the engine-asserted contract.
      import s.implicits._
      val emb = T(s, dir, "embeddings")
        .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      val src = emb.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("embedding"))
      val tgt = emb.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding"))
      // The exact certification leg and the IVF production leg are
      // independent pipelines until the final recall join — run them as
      // overlapped jobs. Both pinned: exact feeds two actions (its own
      // count and the recall join); pinning the mined IVF pairs (a tiny
      // table) lets its whole DAG evaluate inside the overlapped leg
      // instead of inside the sequential hit-count.
      val (exact, ivf) = graft.Overlap.both(
        Bitext.marginMineExact(src, tgt, 4, 1000000L)
          .select("src_id", "tgt_id").localCheckpoint(true),
        Bitext.marginMineIvf(src, tgt, 4, 1000000L, candK = 32,
          nLists = 8, nProbe = 4)
          .select("src_id", "tgt_id").localCheckpoint(true))
      val n = exact.count()
      val hit = exact.join(ivf, Seq("src_id", "tgt_id")).count()
      Seq(("bt_margin_recall_ge_50", n, hit.toDouble / math.max(n, 1L) >= 0.5))
        .toDF("check", "n_exact", "ok")
    }),

    "smp_curriculum" -> ((s, dir) => {
      // Curriculum schedule: 4 difficulty stages by n_chars quantile
      // (contiguous rank ranges — exact, oracle-replayable), positions
      // within a stage hash-shuffled so intra-stage order is id-pure.
      Sampling.curriculum(T(s, dir, "documents"), col("doc_id"),
          col("n_chars"), nStages = 4)
        .orderBy("doc_id")
    }),

    "smp_anneal" -> ((s, dir) =>
      // Anneal-phase selection: top 10% by quality proxy (n_chars,
      // ties by doc_id) marked for the high-quality final phase with
      // mass-preserving integer upweights. The oracle recomputes the
      // rank, the ppm cut, and every weight.
      Sampling.annealPhase(T(s, dir, "documents"), col("doc_id"),
          col("n_chars"), annealFracPpm = 100000L)
        .orderBy("doc_id")),

    "smp_doremi" -> ((s, dir) => {
      // DoReMi-style domain reweighting, linearized multiplicative-
      // weights in exact ppm integers: proxy loss = per-source mean
      // chars/doc (micro-units), 3 update rounds at eta=0.2. The
      // oracle unrolls all three rounds' products, sums, and
      // normalizations.
      val dl = T(s, dir, "documents").groupBy(col("source"))
        .agg(expr("sum(n_chars) * 1000000 div count(*)").as("loss_u"))
      Sampling.domainReweight(dl, rounds = 3, etaPpm = 200000L)
        .orderBy("source")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "smp_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT doc_id,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 AS b
        |       FROM documents)
        | ORDER BY doc_id""".stripMargin,

    // Repeat-factor upsampling: fb = round(f*10000) buckets; every row
    // emits fb // 10000 copies plus one more iff its SALTED hash bucket
    // ('up:' prefix — decorrelated from every other bucket decision)
    // falls under the fractional part — all-integer, engine-independent.

    "smp_upsample" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 AS b,
        |    CASE lang WHEN 'de' THEN 25000 WHEN 'fr' THEN 30000 ELSE 10000 END AS fb
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, lang,
        |         (fb // 10000) + (CASE WHEN b < fb % 10000 THEN 1 ELSE 0 END) AS copies
        |  FROM f)
        | SELECT doc_id, lang, CAST(t.cp AS BIGINT) AS copy
        | FROM c, UNNEST(range(copies)) AS t(cp)
        | WHERE copies > 0
        | ORDER BY doc_id, copy""".stripMargin,

    "smp_source_cap" ->
      """WITH corpus AS (
        |  SELECT doc_id, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, 'src0' FROM documents
        |  WHERE doc_id < ((SELECT max(doc_id) FROM documents) + 1) * 2 // 5),
        | c AS (SELECT source, count(*) AS n FROM corpus GROUP BY 1),
        | t AS (SELECT sum(n) AS total FROM c),
        | r AS (SELECT source, LEAST(1.0, 0.30 * CAST((SELECT total FROM t) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate FROM c)
        | SELECT d.doc_id, d.source FROM corpus d JOIN r ON d.source = r.source
        | WHERE CAST(('0x' || substr(md5('cap:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 < rate * 10000
        | ORDER BY d.doc_id""".stripMargin,

    "smp_epoch_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        | FROM documents ORDER BY doc_id""".stripMargin,

    "smp_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 AS b
        |  FROM documents)
        | WHERE b < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.8
        |                      WHEN 'zh' THEN 0.0 ELSE 0.2 END) * 10000
        | ORDER BY doc_id""".stripMargin,

    "smp_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        | r AS (SELECT lang, sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate FROM c)
        | SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        | WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 < rate * 10000
        | ORDER BY d.doc_id""".stripMargin,

    "smp_topk_group" ->
      """SELECT source, rk, doc_id FROM (
        |  SELECT source, doc_id,
        |   CAST(row_number() OVER (PARTITION BY source ORDER BY
        |     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000,
        |     doc_id) AS INTEGER) AS rk
        |  FROM documents)
        | WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    "smp_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        | rg AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 8192 AS BIGINT) AS bucket
        |  FROM tok, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) u(g)),
        | docb AS (SELECT doc_id, bucket, count(*) AS n FROM rg GROUP BY 1, 2),
        | rawb AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS rn FROM docb GROUP BY 1),
        | tgtb AS (SELECT rg.bucket, count(*) AS tn
        |          FROM rg JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
        | tot AS (SELECT (SELECT CAST(sum(rn) AS BIGINT) FROM rawb) AS rt,
        |                (SELECT CAST(COALESCE(sum(tn), 0) AS BIGINT) FROM tgtb) AS tt),
        | llr AS (
        |  SELECT r.bucket,
        |    CAST(floor((ln(COALESCE(t.tn, 0) + 1)
        |      - ln(CAST((SELECT tt FROM tot) + 8192 AS DOUBLE))
        |      - ln(r.rn + 1)
        |      + ln(CAST((SELECT rt FROM tot) + 8192 AS DOUBLE))) * 1000000.0) AS BIGINT) AS llr_u
        |  FROM rawb r LEFT JOIN tgtb t USING (bucket)),
        | sc AS (SELECT d.doc_id, CAST(sum(d.n * l.llr_u) AS BIGINT) AS score_u,
        |          CAST(sum(d.n) AS BIGINT) AS n_grams
        |        FROM docb d JOIN llr l USING (bucket) GROUP BY 1),
        | wg AS (
        |  SELECT doc.doc_id,
        |    COALESCE(s.n_grams, 0) AS n_grams,
        |    COALESCE(s.score_u, 0) AS score_u,
        |    CAST(floor(-ln(-ln(
        |      (CAST(('0x' || substr(md5('dsir:' || CAST(doc.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |        % 1000000 + 0.5) / 1000000.0)) * 1000000.0) AS BIGINT) AS gumbel_u
        |  FROM documents doc LEFT JOIN sc s USING (doc_id)),
        | rk AS (SELECT *, row_number() OVER (ORDER BY score_u + gumbel_u DESC, doc_id) AS rnk
        |        FROM wg)
        |SELECT doc_id, n_grams, score_u, gumbel_u, rnk <= 100 AS selected
        | FROM rk ORDER BY doc_id""".stripMargin,

    "pipe_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        | r AS (SELECT lang, sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate FROM c),
        | mixed AS (
        |  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN r ON d.lang = r.lang
        |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 < rate * 10000),
        | up AS (
        |  SELECT doc_id, lang, text,
        |    (fb // 10000) + (CASE WHEN b < fb % 10000 THEN 1 ELSE 0 END) AS copies
        |  FROM (SELECT doc_id, lang, text,
        |          CAST(('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 AS b,
        |          CASE lang WHEN 'de' THEN 25000 WHEN 'fr' THEN 30000 ELSE 10000 END AS fb
        |        FROM mixed)),
        | ks AS (
        |  SELECT doc_id * 4 + t.cp AS uid, text
        |  FROM up, UNNEST(range(copies)) AS t(cp) WHERE copies > 0),
        | sh AS (
        |  SELECT uid, text,
        |    CAST(row_number() OVER (ORDER BY md5('3:' || CAST(uid AS VARCHAR)), uid) - 1 AS BIGINT) AS pos
        |  FROM ks),
        | n AS (SELECT pos, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_doc FROM sh),
        | s AS (SELECT pos, n_doc,
        |        CAST(COALESCE(SUM(n_doc) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
        |       FROM n),
        | x AS (SELECT pos, n_doc, st,
        |        unnest(generate_series(st // 128, (st + n_doc - 1) // 128)) AS seq_id FROM s)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, pos,
        |  CAST(GREATEST(st, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_pos,
        |  CAST(GREATEST(st, seq_id * 128) - st AS BIGINT) AS doc_pos,
        |  CAST(LEAST(st + n_doc, (seq_id + 1) * 128) - GREATEST(st, seq_id * 128) AS BIGINT) AS n_toks
        |FROM x ORDER BY seq_id, pos""".stripMargin,

    "txt_bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        | tl AS (SELECT doc_id, unnest(t) AS term FROM tok),
        | q AS (SELECT term FROM (
        |   SELECT term, count(*) AS c FROM tl GROUP BY 1
        |   ORDER BY c DESC, term LIMIT 5)),
        | dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        | st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM tl JOIN q USING (term) GROUP BY 1, 2),
        | dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        | sc AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
        |          / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
        |      * 1000000.0) AS BIGINT) AS cu
        |  FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
        | agg AS (SELECT doc_id, CAST(sum(cu) AS BIGINT) AS score_u FROM sc GROUP BY 1),
        | topd AS (SELECT doc_id, score_u,
        |   row_number() OVER (ORDER BY score_u DESC, doc_id) AS rank FROM agg)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id, score_u
        |FROM topd WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "ret_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        | qt AS (SELECT DISTINCT doc_id AS query_id, unnest(t) AS term FROM tok WHERE doc_id < 5),
        | terms AS (SELECT DISTINCT term FROM qt),
        | tl AS (SELECT doc_id, unnest(t) AS term FROM tok),
        | dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        | st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM tl JOIN terms USING (term) GROUP BY 1, 2),
        | dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        | cu AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(floor(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
        |          / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
        |      * 1000000.0) AS BIGINT) AS cu
        |  FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
        | lexsc AS (
        |  SELECT qt.query_id, cu.doc_id, CAST(sum(cu.cu) AS BIGINT) AS score_u
        |  FROM cu JOIN qt USING (term) WHERE cu.doc_id != qt.query_id GROUP BY 1, 2),
        | lex AS (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS INTEGER) AS lex_rank
        |  FROM lexsc QUALIFY lex_rank <= 20),
        | corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | dims AS (
        |  SELECT i, min(e[i]) AS lo, max(e[i]) AS hi
        |  FROM corpus, generate_series(1, 64) t(i) GROUP BY i),
        | recon AS (
        |  SELECT vec_id, list(CAST(
        |      floor(lo * 1000000 + 0.5)
        |      + (CASE WHEN hi > lo
        |          THEN least(greatest(floor((e[i] - lo) / (hi - lo) * 255 + 0.5), 0), 255)
        |          ELSE 0 END)
        |        * floor((hi - lo) * 1000000 / 255 + 0.5)
        |      AS BIGINT) ORDER BY i) AS c
        |  FROM corpus, dims
        |  GROUP BY vec_id),
        | dsc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    CAST(list_dot_product(CAST(q.c AS DOUBLE[]), CAST(c.c AS DOUBLE[])) AS BIGINT) AS iscore
        |  FROM recon q, recon c WHERE q.vec_id < 5 AND c.vec_id != q.vec_id),
        | dense AS (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY iscore DESC, doc_id) AS INTEGER) AS dense_rank
        |  FROM dsc QUALIFY dense_rank <= 20),
        | fused AS (
        |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
        |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |    l.lex_rank, d.dense_rank,
        |    CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
        |       + COALESCE(1000000 // (60 + d.dense_rank), 0) AS BIGINT) AS rrf_u
        |  FROM lex l FULL JOIN dense d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
        | rk AS (
        |  SELECT query_id, doc_id, lex_rank, dense_rank, rrf_u,
        |    CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY rrf_u DESC, doc_id) AS INTEGER) AS rank
        |  FROM fused)
        |SELECT query_id, doc_id, lex_rank, dense_rank, rrf_u, rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "smp_dedup_weights" ->
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
        |   SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
        | comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
        | csz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |         FROM comp GROUP BY 1)
        |SELECT c.doc_id, c.cluster_id, z.cluster_size,
        |  (c.doc_id = c.cluster_id) AS keep,
        |  CASE WHEN c.doc_id = c.cluster_id THEN z.cluster_size ELSE 0 END AS repeat_weight
        |FROM comp c JOIN csz z USING (cluster_id)
        |ORDER BY c.doc_id""".stripMargin,

    "smp_ccnet_buckets" ->
      s"""WITH $PerplexityLegs,
         |$CcnetBucketLegs
         |SELECT doc_id, CAST(score_u AS BIGINT) AS score_u, bucket
         |FROM bks ORDER BY doc_id""".stripMargin,

    "pipe_fineweb" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${gopherLegs("corpus", minWords = 30, minStopHits = 1)},
         |${repSignalsLegs("corpus")},
         | $PerplexityLegs,
         |$CcnetBucketLegs,
         | keyd AS (
         |  SELECT c.doc_id,
         |    md5(regexp_replace(trim(lower(c.text)), '\\s+', ' ', 'g')) AS k,
         |    g.gk, r.rk, bk.bucket
         |  FROM corpus c JOIN gkeep g USING (doc_id)
         |    JOIN rkeep r USING (doc_id) JOIN bks bk USING (doc_id)),
         | canon AS (SELECT k, min(doc_id) AS cid FROM keyd WHERE gk AND rk GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(sum(CASE WHEN gk THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
         |  CAST(sum(CASE WHEN gk AND rk THEN 1 ELSE 0 END) AS BIGINT) AS n_rules,
         |  CAST(sum(CASE WHEN gk AND rk AND doc_id = cid THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dedup,
         |  CAST(sum(CASE WHEN gk AND rk AND doc_id = cid AND bucket <> 'tail'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         |  CAST(sum(CASE WHEN gk AND rk AND doc_id = cid AND bucket <> 'tail'
         |    THEN doc_id ELSE 0 END) AS BIGINT) AS final_id_sum
         |FROM keyd LEFT JOIN canon USING (k)""".stripMargin,

    "pipe_fineweb_fuzzy" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 800000, text || ' shared tail marker words here'
         |  FROM documents WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT doc_id + 900000, text FROM documents WHERE doc_id % 41 = 0),
         |${gopherLegs("corpus", minWords = 30, minStopHits = 1)},
         |${repSignalsLegs("corpus")},
         | ${perplexityLegs("corpus")},
         |${ccnetBucketLegs("corpus")},
         | surv AS (
         |  SELECT c.doc_id, c.text FROM corpus c
         |  JOIN gkeep g USING (doc_id) JOIN rkeep r USING (doc_id)
         |  WHERE g.gk AND r.rk),
         | shf AS (
         |  SELECT DISTINCT doc_id, s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM surv),
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
         |  GROUP BY 1, 2),
         | fpairs AS (
         |  SELECT i.doc_a, i.doc_b
         |  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |    JOIN sizes sb ON sb.doc_id = i.doc_b
         |  WHERE CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE) >= 0.5),
         | edges AS (SELECT doc_a AS a, doc_b AS b FROM fpairs
         |           UNION ALL SELECT doc_b, doc_a FROM fpairs),
         | reach(node, lbl) AS (
         |   SELECT doc_id, doc_id FROM surv
         |   UNION
         |   SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
         | comp AS (SELECT node AS doc_id, min(lbl) AS cid FROM reach GROUP BY 1),
         | lab AS (
         |  SELECT c.doc_id, g.gk, r.rk, bk.bucket, cm.cid
         |  FROM corpus c JOIN gkeep g USING (doc_id) JOIN rkeep r USING (doc_id)
         |    JOIN bks bk USING (doc_id) LEFT JOIN comp cm USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(sum(CASE WHEN gk THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
         |  CAST(sum(CASE WHEN gk AND rk THEN 1 ELSE 0 END) AS BIGINT) AS n_rules,
         |  CAST(sum(CASE WHEN gk AND rk AND doc_id = cid THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dedup,
         |  CAST(sum(CASE WHEN gk AND rk AND doc_id = cid AND bucket <> 'tail'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         |  CAST(sum(CASE WHEN gk AND rk AND doc_id = cid AND bucket <> 'tail'
         |    THEN doc_id ELSE 0 END) AS BIGINT) AS final_id_sum
         |FROM lab""".stripMargin,

    "pipe_dolma" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         | ing AS (SELECT doc_id, text FROM docs WHERE doc_id % 3 = 0),
         | corpus AS (
         |  SELECT doc_id, text FROM docs WHERE doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT doc_id + 950000, text FROM ing WHERE doc_id % 21 = 0),
         |${gopherLegs("corpus", minWords = 30, minStopHits = 1)},
         | co AS (SELECT i,
         |    CAST(CAST(('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
         |      % 2147483646 + 1 AS a,
         |    CAST(CAST(('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
         |      % 2147483647 AS b
         |  FROM unnest(range(3)) u(i)),
         | rp AS (
         |  SELECT DISTINCT array_to_string(t[i*10+1 : i*10+10], ' ') AS para
         |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM ing),
         |       unnest(range(0, (len(t)+9)//10)) u(i)),
         | rph AS (SELECT para,
         |    CAST(CAST(('0x' || substr(md5(para), 1, 8)) AS UBIGINT) AS BIGINT) % 2147483647 AS h
         |  FROM rp),
         | bits AS (SELECT DISTINCT (co.a * rph.h + co.b) % 2147483647 % 4096 AS pos
         |  FROM rph, co),
         | cp AS (
         |  SELECT DISTINCT doc_id, array_to_string(t[i*10+1 : i*10+10], ' ') AS para
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         |        FROM corpus),
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
         |  FROM cpos LEFT JOIN bits b ON b.pos = cpos.pos GROUP BY 1, 2),
         | pd AS (
         |  SELECT p.doc_id,
         |    sum(CASE WHEN NOT p.flagged THEN 1 ELSE 0 END) AS nkeep,
         |    sum(CASE WHEN t.para IS NULL THEN 1 ELSE 0 END) AS nkeep_exact,
         |    sum(CASE WHEN p.flagged AND t.para IS NULL THEN 1 ELSE 0 END) AS nfp
         |  FROM probe p LEFT JOIN rp t ON t.para = p.para GROUP BY 1),
         | lab AS (
         |  SELECT c.doc_id, g.gk,
         |    COALESCE(pd.nkeep, 0) AS nkeep,
         |    COALESCE(pd.nkeep_exact, 0) AS nkeep_exact,
         |    COALESCE(pd.nfp, 0) AS nfp
         |  FROM corpus c JOIN gkeep g USING (doc_id) LEFT JOIN pd USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(sum(CASE WHEN gk THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN gk AND nkeep > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
         |  CAST(sum(CASE WHEN gk AND nkeep_exact > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact,
         |  CAST(sum(CASE WHEN gk THEN nfp ELSE 0 END) AS BIGINT) AS fp_paras_dropped,
         |  CAST(sum(CASE WHEN gk AND nkeep > 0 THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS final_id_sum
         |FROM lab""".stripMargin,

    "smp_token_budget" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
        |      AS tokens_available
        |  FROM documents GROUP BY 1),
        | w AS (
        |  SELECT source,
        |    CAST(CASE WHEN i % 3 = 0 THEN 500
        |              ELSE 20000 + (i % 7) * 10000 END AS BIGINT) AS weight_ppm
        |  FROM (SELECT source, CAST(substr(source, 4) AS INTEGER) AS i
        |        FROM (SELECT DISTINCT source FROM documents))),
        | plan AS (
        |  SELECT t.source, t.tokens_available, w.weight_ppm,
        |    CAST(2000000 * w.weight_ppm // 1000000 AS BIGINT) AS tokens_target
        |  FROM tok t JOIN w USING (source))
        |SELECT source, tokens_available, weight_ppm, tokens_target,
        |  CAST(tokens_target // tokens_available AS BIGINT) AS n_full_epochs,
        |  CAST((tokens_target % tokens_available) * 1000000 // tokens_available AS BIGINT)
        |    AS remainder_rate_ppm
        |FROM plan ORDER BY source""".stripMargin,

    "sft_assemble" ->
      """WITH t0 AS (
        |  SELECT doc_id % 50 AS conv_id, doc_id, text AS content,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |  doc_id, content
        | FROM t0 ORDER BY conv_id, turn_idx""".stripMargin,

    "sft_render" ->
      """WITH t0 AS (
        |  SELECT doc_id % 50 AS conv_id, doc_id, text AS content,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | turns AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    content FROM t0),
        | r AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |    string_agg('<|' || role || '|>' || chr(10) || content || '<|end|>' || chr(10),
        |               '' ORDER BY turn_idx) || '<|assistant|>' || chr(10) AS prompt
        |  FROM turns GROUP BY 1)
        |SELECT conv_id, n_turns, prompt, CAST(length(prompt) AS BIGINT) AS prompt_chars
        | FROM r ORDER BY conv_id""".stripMargin,

    "sft_validate" ->
      """WITH t0 AS (
        |  SELECT doc_id % 40 AS conv_id, doc_id, text,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | turns AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    CASE WHEN doc_id % 41 = 0 THEN '  ' ELSE text END AS content
        |  FROM t0 WHERE doc_id % 37 <> 0),
        | lagged AS (
        |  SELECT *, CASE WHEN lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) = role
        |    THEN 1 ELSE 0 END AS same_as_prev
        |  FROM turns),
        | agg AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |    sum(same_as_prev) = 0 AS alternates,
        |    arg_min(role, turn_idx) = 'user' AS first_is_user,
        |    arg_max(role, turn_idx) = 'assistant' AS last_is_assistant,
        |    sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) = 0 AS no_empty
        |  FROM lagged GROUP BY 1)
        |SELECT conv_id, n_turns, alternates, first_is_user, last_is_assistant,
        |  no_empty, n_turns <= 12 AS within_max,
        |  (alternates AND first_is_user AND last_is_assistant AND no_empty
        |   AND n_turns <= 12) AS ok
        | FROM agg ORDER BY conv_id""".stripMargin,

    "sft_turn_dedup" ->
      """WITH t0 AS (
        |  SELECT doc_id % 50 AS conv_id, doc_id, text AS content,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | base AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    content FROM t0),
        | allt AS (
        |  SELECT conv_id, turn_idx, role, content FROM base
        |  UNION ALL
        |  SELECT conv_id + 1000, turn_idx, role,
        |    CASE WHEN role = 'user' THEN 'rephrased: ' || content ELSE content END
        |  FROM base WHERE conv_id < 20
        |  UNION ALL
        |  SELECT conv_id + 2000, turn_idx, role,
        |    CASE WHEN role = 'assistant' THEN upper(content || '  ') ELSE content END
        |  FROM base WHERE conv_id < 10),
        | sigs AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_assistant_turns,
        |    md5(string_agg(regexp_replace(trim(lower(content)), '\s+', ' ', 'g'),
        |                   chr(10) ORDER BY turn_idx)) AS sig
        |  FROM allt WHERE role = 'assistant' GROUP BY 1)
        |SELECT conv_id, n_assistant_turns, sig,
        |  conv_id = min(conv_id) OVER (PARTITION BY sig) AS is_canonical
        | FROM sigs ORDER BY conv_id""".stripMargin,

    "sft_token_trim" ->
      """WITH t0 AS (
        |  SELECT doc_id % 50 AS conv_id, doc_id, text AS content,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | turns AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    CAST(len(regexp_split_to_array(trim(lower(content)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM t0),
        | cum AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tail_tokens
        |  FROM turns),
        | fits AS (
        |  SELECT *, tail_tokens <= 256 AS f,
        |    min(CASE WHEN tail_tokens <= 256 AND role = 'user' THEN turn_idx END)
        |      OVER (PARTITION BY conv_id) AS start_idx
        |  FROM cum)
        |SELECT conv_id, turn_idx, role, n_tokens,
        |  CAST(tail_tokens AS BIGINT) AS tail_tokens,
        |  (f AND start_idx IS NOT NULL AND turn_idx >= start_idx) AS kept
        | FROM fits ORDER BY conv_id, turn_idx""".stripMargin,

    "sft_loss_mask" ->
      """WITH t0 AS (
        |  SELECT doc_id % 50 AS conv_id, doc_id, text AS content,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | turns AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    content FROM t0),
        | pieces AS (
        |  SELECT *, CAST(length(role) + 5 AS BIGINT) AS head_len,
        |    CAST(length(role) + 5 + length(content) + 8 AS BIGINT) AS piece_len
        |  FROM turns),
        | c AS (
        |  SELECT *, COALESCE(sum(piece_len) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM pieces)
        |SELECT conv_id, turn_idx, role,
        |  CAST(bef + head_len AS BIGINT) AS start_char,
        |  CAST(bef + head_len + length(content) AS BIGINT) AS end_char,
        |  role = 'assistant' AS trainable
        | FROM c ORDER BY conv_id, turn_idx""".stripMargin,

    "sft_parse_jsonl" ->
      """WITH c0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 23 = 0
        |         THEN text || ' ' || chr(34) || 'quoted' || chr(34) || ' and ' || chr(92) || ' backslash'
        |         ELSE text END AS content
        |  FROM documents),
        | e AS (
        |  SELECT doc_id,
        |    replace(replace(replace(content,
        |      chr(92), chr(92) || chr(92)),
        |      chr(34), chr(92) || chr(34)),
        |      chr(10), chr(92) || 'n') AS ec
        |  FROM c0),
        | j AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 0 THEN '{broken'
        |         ELSE '{"messages":[{"role":"user","content":"' || ec ||
        |              '"},{"role":"assistant","content":"echo: ' || ec || '"}]}'
        |    END AS t
        |  FROM e),
        | ok AS (
        |  SELECT doc_id AS conv_id, CAST(i AS INTEGER) AS turn_idx,
        |    COALESCE(json_extract_string(t, '$.messages[' || i || '].role'), '') AS role,
        |    COALESCE(json_extract_string(t, '$.messages[' || i || '].content'), '') AS content
        |  FROM j, unnest(range(0, CAST(CASE WHEN json_valid(t)
        |      THEN COALESCE(json_array_length(t, '$.messages'), 0) ELSE 0 END AS BIGINT))) u(i)),
        | bad AS (
        |  SELECT doc_id AS conv_id, CAST(-1 AS INTEGER) AS turn_idx,
        |    '_malformed_' AS role, '' AS content
        |  FROM j WHERE NOT json_valid(t)
        |     OR COALESCE(json_array_length(t, '$.messages'), 0) = 0)
        |SELECT * FROM ok UNION ALL SELECT * FROM bad
        |ORDER BY conv_id, turn_idx""".stripMargin,

    "sft_pref_pairs" ->
      """WITH r AS (
        |  SELECT doc_id % 100 AS prompt_id, doc_id AS resp_id,
        |    CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        | rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, resp_id) AS rb,
        |    row_number() OVER (PARTITION BY prompt_id ORDER BY score ASC, resp_id) AS rw
        |  FROM r),
        | agg AS (
        |  SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_responses,
        |    min(CASE WHEN rb = 1 THEN resp_id END) AS chosen_id,
        |    min(CASE WHEN rb = 1 THEN score END) AS chosen_score,
        |    min(CASE WHEN rw = 1 THEN resp_id END) AS rejected_id,
        |    min(CASE WHEN rw = 1 THEN score END) AS rejected_score
        |  FROM rk GROUP BY 1)
        |SELECT prompt_id, n_responses, chosen_id, rejected_id,
        |  chosen_score - rejected_score AS margin,
        |  (n_responses >= 2 AND chosen_id <> rejected_id
        |   AND chosen_score - rejected_score >= 50) AS kept
        | FROM agg ORDER BY prompt_id""".stripMargin,

    "smp_length_buckets" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | rk AS (SELECT *,
        |   (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // 32 AS batch_id
        |  FROM d),
        | mx AS (SELECT *, max(n_tokens) OVER (PARTITION BY batch_id) AS batch_max FROM rk)
        |SELECT doc_id, n_tokens, batch_id, batch_max, batch_max - n_tokens AS pad
        | FROM mx ORDER BY doc_id""".stripMargin,

    "pipe_sft" ->
      """WITH t0 AS (
        |  SELECT doc_id % 40 AS conv_id, doc_id, text,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | planted AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    CASE WHEN doc_id % 41 = 0 THEN '  ' ELSE text END AS content
        |  FROM t0 WHERE doc_id % 37 <> 0),
        | turns AS (
        |  SELECT conv_id, turn_idx, role, content FROM planted
        |  UNION ALL
        |  SELECT conv_id + 1000, turn_idx, role,
        |    CASE WHEN role = 'user' THEN 'rephrased: ' || content ELSE content END
        |  FROM planted WHERE conv_id < 20),
        | lagged AS (
        |  SELECT *, CASE WHEN lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) = role
        |    THEN 1 ELSE 0 END AS sp
        |  FROM turns),
        | vagg AS (
        |  SELECT conv_id FROM lagged GROUP BY 1
        |  HAVING sum(sp) = 0 AND arg_min(role, turn_idx) = 'user'
        |     AND arg_max(role, turn_idx) = 'assistant'
        |     AND sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) = 0
        |     AND count(*) <= 12),
        | valid AS (SELECT t.* FROM turns t JOIN vagg USING (conv_id)),
        | sigs AS (
        |  SELECT conv_id, md5(string_agg(regexp_replace(trim(lower(content)), '\s+', ' ', 'g'),
        |           chr(10) ORDER BY turn_idx)) AS sig
        |  FROM valid WHERE role = 'assistant' GROUP BY 1),
        | canon AS (SELECT conv_id FROM (
        |   SELECT conv_id, conv_id = min(conv_id) OVER (PARTITION BY sig) AS c FROM sigs)
        |  WHERE c),
        | ded AS (SELECT v.* FROM valid v JOIN canon USING (conv_id)),
        | cum AS (
        |  SELECT conv_id, turn_idx, role, content,
        |    sum(CAST(len(regexp_split_to_array(trim(lower(content)), '\s+')) AS BIGINT))
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tail
        |  FROM ded),
        | fits AS (
        |  SELECT *, tail <= 256 AS f,
        |    min(CASE WHEN tail <= 256 AND role = 'user' THEN turn_idx END)
        |      OVER (PARTITION BY conv_id) AS si
        |  FROM cum),
        | keptt AS (SELECT conv_id, turn_idx, role, content FROM fits
        |           WHERE f AND si IS NOT NULL AND turn_idx >= si),
        | r AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |    string_agg('<|' || role || '|>' || chr(10) || content || '<|end|>' || chr(10),
        |               '' ORDER BY turn_idx) || '<|assistant|>' || chr(10) AS prompt
        |  FROM keptt GROUP BY 1)
        |SELECT conv_id, n_turns, prompt, CAST(length(prompt) AS BIGINT) AS prompt_chars
        | FROM r ORDER BY conv_id""".stripMargin,

    "pipe_sft_stream" ->
      """WITH t0 AS (
        |  SELECT doc_id % 40 AS conv_id, doc_id, text AS content,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
        |  FROM documents),
        | base AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    content FROM t0),
        | withrev AS (
        |  SELECT *, array_to_string(list_reverse(regexp_split_to_array(trim(lower(content)), '\s+')), ' ') AS rv
        |  FROM base),
        | allb AS (
        |  SELECT 0 AS batch, conv_id + 1000 AS conv_id, turn_idx, role,
        |    CASE WHEN role = 'user' THEN 'rephrased: ' || content ELSE content END AS content
        |  FROM withrev WHERE conv_id BETWEEN 20 AND 27
        |  UNION ALL
        |  SELECT 0, conv_id + 5000, turn_idx, role,
        |    CASE WHEN role = 'assistant' THEN rv ELSE content END
        |  FROM withrev WHERE conv_id BETWEEN 28 AND 33
        |  UNION ALL
        |  SELECT 0, conv_id + 7000, turn_idx, role, content
        |  FROM withrev WHERE conv_id < 5 AND role = 'user'
        |  UNION ALL
        |  SELECT 1, conv_id + 6000, turn_idx, role,
        |    CASE WHEN role = 'assistant' THEN rv
        |         WHEN role = 'user' THEN 'asked again: ' || content ELSE content END
        |  FROM withrev WHERE conv_id BETWEEN 28 AND 33
        |  UNION ALL
        |  SELECT 1, conv_id + 2000, turn_idx, role,
        |    CASE WHEN role = 'assistant' THEN rv || ' fresh batch words' ELSE content END
        |  FROM withrev WHERE conv_id BETWEEN 34 AND 37
        |  UNION ALL
        |  SELECT 1, conv_id + 3000, turn_idx, role,
        |    CASE WHEN role = 'assistant' THEN rv || ' pair tail'
        |         WHEN role = 'user' THEN 'first voice: ' || content ELSE content END
        |  FROM withrev WHERE conv_id BETWEEN 38 AND 39
        |  UNION ALL
        |  SELECT 1, conv_id + 4000, turn_idx, role,
        |    CASE WHEN role = 'assistant' THEN rv || ' pair tail'
        |         WHEN role = 'user' THEN 'second voice: ' || content ELSE content END
        |  FROM withrev WHERE conv_id BETWEEN 38 AND 39),
        | lagged AS (
        |  SELECT *, CASE WHEN lag(role) OVER (PARTITION BY batch, conv_id ORDER BY turn_idx) = role
        |    THEN 1 ELSE 0 END AS sp
        |  FROM allb),
        | vagg AS (
        |  SELECT batch, conv_id,
        |    (sum(sp) = 0 AND arg_min(role, turn_idx) = 'user'
        |     AND arg_max(role, turn_idx) = 'assistant'
        |     AND sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) = 0
        |     AND count(*) <= 13) AS okflag
        |  FROM lagged GROUP BY 1, 2),
        | valid AS (
        |  SELECT a.* FROM allb a JOIN vagg v
        |  ON a.batch = v.batch AND a.conv_id = v.conv_id AND v.okflag),
        | sigs AS (
        |  SELECT batch, conv_id,
        |    md5(string_agg(regexp_replace(trim(lower(content)), '\s+', ' ', 'g'),
        |        chr(10) ORDER BY turn_idx)) AS sig
        |  FROM valid WHERE role = 'assistant' GROUP BY 1, 2),
        | seedsigs AS (
        |  SELECT conv_id,
        |    md5(string_agg(regexp_replace(trim(lower(content)), '\s+', ' ', 'g'),
        |        chr(10) ORDER BY turn_idx)) AS sig
        |  FROM base WHERE role = 'assistant' GROUP BY 1),
        | prior0 AS (SELECT sig, min(conv_id) AS prior_conv FROM seedsigs GROUP BY 1),
        | b0min AS (SELECT sig, min(conv_id) AS batch_min FROM sigs WHERE batch = 0 GROUP BY 1),
        | j0 AS (
        |  SELECT s.conv_id,
        |    CASE WHEN p.prior_conv IS NOT NULL THEN 'dup_corpus'
        |         WHEN s.conv_id <> m.batch_min THEN 'dup_batch' ELSE 'new' END AS verdict,
        |    CASE WHEN p.prior_conv IS NOT NULL THEN p.prior_conv
        |         WHEN s.conv_id <> m.batch_min THEN m.batch_min END AS dup_of
        |  FROM sigs s LEFT JOIN prior0 p USING (sig) JOIN b0min m USING (sig)
        |  WHERE s.batch = 0),
        | adm0 AS (
        |  SELECT s.conv_id, s.sig FROM sigs s JOIN j0
        |  ON j0.conv_id = s.conv_id WHERE s.batch = 0 AND j0.verdict = 'new'),
        | prior1 AS (
        |  SELECT sig, min(conv_id) AS prior_conv FROM (
        |    SELECT conv_id, sig FROM seedsigs UNION ALL SELECT conv_id, sig FROM adm0)
        |  GROUP BY 1),
        | b1min AS (SELECT sig, min(conv_id) AS batch_min FROM sigs WHERE batch = 1 GROUP BY 1),
        | j1 AS (
        |  SELECT s.conv_id,
        |    CASE WHEN p.prior_conv IS NOT NULL THEN 'dup_corpus'
        |         WHEN s.conv_id <> m.batch_min THEN 'dup_batch' ELSE 'new' END AS verdict,
        |    CASE WHEN p.prior_conv IS NOT NULL THEN p.prior_conv
        |         WHEN s.conv_id <> m.batch_min THEN m.batch_min END AS dup_of
        |  FROM sigs s LEFT JOIN prior1 p USING (sig) JOIN b1min m USING (sig)
        |  WHERE s.batch = 1)
        |SELECT CAST(0 AS INTEGER) AS batch_id, conv_id, verdict, CAST(dup_of AS BIGINT) AS dup_of FROM j0
        |UNION ALL
        |SELECT CAST(0 AS INTEGER), conv_id, 'invalid', NULL FROM vagg WHERE batch = 0 AND NOT okflag
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), conv_id, verdict, CAST(dup_of AS BIGINT) FROM j1
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), conv_id, 'invalid', NULL FROM vagg WHERE batch = 1 AND NOT okflag
        |ORDER BY conv_id""".stripMargin,

    "bt_margin_mine" ->
      """WITH src AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS e
        |             FROM embeddings WHERE vec_id % 2 = 0),
        | tgt AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS e
        |         FROM embeddings WHERE vec_id % 2 = 1),
        | scored AS (
        |  SELECT src_id, tgt_id,
        |    CAST(floor(list_cosine_similarity(s.e, t.e) * 100000 + 0.5) AS BIGINT) AS cos_u
        |  FROM src s, tgt t),
        | ra AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |          ORDER BY cos_u DESC, tgt_id) AS r FROM scored),
        | avs AS (SELECT src_id, CAST(floor(CAST(sum(cos_u) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_src_u
        |         FROM ra WHERE r <= 4 GROUP BY 1),
        | rb AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
        |          ORDER BY cos_u DESC, src_id) AS r FROM scored),
        | avt AS (SELECT tgt_id, CAST(floor(CAST(sum(cos_u) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_tgt_u
        |         FROM rb WHERE r <= 4 GROUP BY 1),
        | m AS (SELECT sc.src_id, sc.tgt_id, sc.cos_u,
        |    CASE WHEN avg_src_u + avg_tgt_u > 0
        |      THEN CAST(floor(CAST(sc.cos_u AS DOUBLE) * 2000000.0
        |        / CAST(avg_src_u + avg_tgt_u AS DOUBLE)) AS BIGINT)
        |      ELSE CAST(-1 AS BIGINT) END AS margin_u
        |  FROM scored sc JOIN avs USING (src_id) JOIN avt USING (tgt_id)),
        | best AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |            ORDER BY margin_u DESC, tgt_id) AS rk FROM m)
        |SELECT src_id, tgt_id, cos_u, margin_u FROM best
        | WHERE rk = 1 AND margin_u >= 1000000 ORDER BY src_id""".stripMargin,

    // Exact half re-derived (the mined-pair count from the all-pairs
    // replay); the recall boolean is the engine-asserted contract on
    // the IVF production path, pinned here (same device as
    // ann_*_recall / dd_minhash_recall).

    "bt_margin_recall" ->
      """WITH src AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS e
        |             FROM embeddings WHERE vec_id % 2 = 0),
        | tgt AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS e
        |         FROM embeddings WHERE vec_id % 2 = 1),
        | scored AS (
        |  SELECT src_id, tgt_id,
        |    CAST(floor(list_cosine_similarity(s.e, t.e) * 100000 + 0.5) AS BIGINT) AS cos_u
        |  FROM src s, tgt t),
        | ra AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |          ORDER BY cos_u DESC, tgt_id) AS r FROM scored),
        | avs AS (SELECT src_id, CAST(floor(CAST(sum(cos_u) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_src_u
        |         FROM ra WHERE r <= 4 GROUP BY 1),
        | rb AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
        |          ORDER BY cos_u DESC, src_id) AS r FROM scored),
        | avt AS (SELECT tgt_id, CAST(floor(CAST(sum(cos_u) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_tgt_u
        |         FROM rb WHERE r <= 4 GROUP BY 1),
        | m AS (SELECT sc.src_id, sc.tgt_id,
        |    CASE WHEN avg_src_u + avg_tgt_u > 0
        |      THEN CAST(floor(CAST(sc.cos_u AS DOUBLE) * 2000000.0
        |        / CAST(avg_src_u + avg_tgt_u AS DOUBLE)) AS BIGINT)
        |      ELSE CAST(-1 AS BIGINT) END AS margin_u
        |  FROM scored sc JOIN avs USING (src_id) JOIN avt USING (tgt_id)),
        | best AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |            ORDER BY margin_u DESC, tgt_id) AS rk FROM m)
        |SELECT 'bt_margin_recall_ge_50' AS check,
        |  CAST(count(*) AS BIGINT) AS n_exact, CAST(true AS BOOLEAN) AS ok
        | FROM best WHERE rk = 1 AND margin_u >= 1000000""".stripMargin,

    "smp_curriculum" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS difficulty FROM documents),
        | st AS (
        |  SELECT doc_id, difficulty,
        |    (row_number() OVER (ORDER BY difficulty, doc_id) - 1) * 4
        |      // (count(*) OVER ()) + 1 AS stage
        |  FROM d),
        | sh AS (
        |  SELECT *, CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |    % 1000000 AS BIGINT) AS shuf
        |  FROM st)
        |SELECT doc_id, difficulty, stage,
        |  CAST(row_number() OVER (PARTITION BY stage ORDER BY shuf, doc_id) AS INTEGER) AS pos
        | FROM sh ORDER BY doc_id""".stripMargin,

    "smp_anneal" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score FROM documents),
        | rk AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS r,
        |    count(*) OVER () AS total
        |  FROM d),
        | f AS (SELECT *, r * 1000000 <= 100000 * total AS is_anneal FROM rk),
        | n AS (SELECT *, sum(CASE WHEN is_anneal THEN 1 ELSE 0 END) OVER () AS na FROM f)
        |SELECT doc_id, score, is_anneal,
        |  CAST(CASE WHEN is_anneal
        |    THEN 1000000 * total // greatest(na, 1) ELSE 0 END AS BIGINT) AS anneal_weight_ppm
        | FROM n ORDER BY doc_id""".stripMargin,

    "smp_doremi" ->
      """WITH dl AS (
        |  SELECT source, CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS loss_u
        |  FROM documents GROUP BY 1),
        | n AS (
        |  SELECT source, loss_u,
        |    loss_u * 1000000 // greatest(max(loss_u) OVER (), 1) AS norm_loss_u,
        |    1000000 // (count(*) OVER ()) AS w0
        |  FROM dl),
        | r1 AS (SELECT *, w0 * (1000000 + 200000 * norm_loss_u // 1000000) // 1000000 AS raw1 FROM n),
        | r1n AS (SELECT *, raw1 * 1000000 // (sum(raw1) OVER ()) AS w1 FROM r1),
        | r2 AS (SELECT *, w1 * (1000000 + 200000 * norm_loss_u // 1000000) // 1000000 AS raw2 FROM r1n),
        | r2n AS (SELECT *, raw2 * 1000000 // (sum(raw2) OVER ()) AS w2 FROM r2),
        | r3 AS (SELECT *, w2 * (1000000 + 200000 * norm_loss_u // 1000000) // 1000000 AS raw3 FROM r2n),
        | r3n AS (SELECT *, raw3 * 1000000 // (sum(raw3) OVER ()) AS w3 FROM r3)
        |SELECT source, loss_u, norm_loss_u,
        |  CAST(w1 AS BIGINT) AS w_round_1, CAST(w2 AS BIGINT) AS w_round_2,
        |  CAST(w3 AS BIGINT) AS w_round_3
        | FROM r3n ORDER BY source""".stripMargin,

    // dd_minhash_lsh, dd_simhash, txt_fingerprint, ann_lsh_topk and
    // dd_embed_cosine_lsh emit Spark-hash-specific values => rows-only
    // driver check, but each now has an oracle-checked companion
    // (dd_minhash_recall, dd_simhash_invariance, txt_fingerprint_invariance
    // ann_lsh_recall, dd_embed_lsh_recall) asserting its quality contract.
  )
}
