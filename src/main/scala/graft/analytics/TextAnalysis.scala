package graft.analytics

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines: tokenization, quality
 * scoring, language ID, fingerprinting. All pure narrow transformations
 * (no shuffle) built from codegen'd `functions._` — at 100 TB these run
 * at scan speed inside whole-stage codegen.
 */
object TextAnalysis {

  /** Whitespace tokenizer (lowercased). */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
  val DeStopwords: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von")
  val FrStopwords: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pas")

  /** Count of tokens present in `words` (stopword hits). */
  def hitCount(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /**
   * HTML → text extraction — the WET-file stage every crawl pipeline
   * runs before any text heuristic: drop non-content containers
   * (`script`/`style`, comments), turn block-closing tags into line
   * breaks so paragraph structure survives for line-based rules, strip
   * the remaining markup, decode the six dominant entities, collapse
   * whitespace. A fixed regex chain of Catalyst `regexp_replace`
   * expressions — narrow, codegen'd, shuffle-free, and the whole chain
   * replays in an external SQL engine (patterns restricted to the
   * RE2-safe subset: case-insensitive/dot-all flags and lazy
   * quantifiers, no backreferences or lookaround). This is the honest
   * regex extractor (boilerplate REMOVAL beyond script/style is the
   * separate line-dedup / quality-rule stage, by design — the
   * published pipelines also split these).
   */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)<(?:br\\s*/?|/p|/div|/li|/tr|/h[1-6]|/blockquote)>", "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val ent1 = regexp_replace(noTags, "&nbsp;", " ")
    val ent2 = regexp_replace(ent1, "&lt;", "<")
    val ent3 = regexp_replace(ent2, "&gt;", ">")
    val ent4 = regexp_replace(ent3, "&quot;", "\"")
    val ent5 = regexp_replace(ent4, "&#39;", "'")
    val ent6 = regexp_replace(ent5, "&amp;", "&")
    // strip edge whitespace, newlines too (`trim` removes spaces only)
    regexp_replace(regexp_replace(regexp_replace(ent6, "[ \\t\\r]+", " "),
      "\\s*\\n\\s*", "\n"), "^\\s+|\\s+$", "")
  }

  /**
   * Language ID by stopword n-gram heuristic: count stopword hits per
   * language, argmax wins, no hits => "und" (undetermined).
   */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val en = hitCount(t, EnStopwords)
    val de = hitCount(t, DeStopwords)
    val fr = hitCount(t, FrStopwords)
    when(en >= de && en >= fr && en > 0, lit("en"))
      .when(de >= fr && de > 0, lit("de"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("und"))
  }

  /**
   * Cavnar–Trenkle (1994) rank-profile language ID — the published
   * n-gram algorithm behind textcat-style classifiers, upgrading the
   * stopword heuristic for languages no stopword table covers (the
   * corpus' zh/es slices): per language, the top-K most frequent char
   * n-grams rank by (count desc, gram asc — a deterministic total
   * order); a document's own top-K profile compares by the
   * OUT-OF-PLACE measure — Σ |doc_rank − lang_rank|, max penalty K
   * for grams absent from the language profile — and the argmin
   * language wins (lang asc on ties).
   *
   * Scale shape: profiles are one (lang, gram) count + a per-LANG rank
   * window, then a (K × #languages)-row broadcast; documents rank
   * their own grams in per-DOC windows and join the broadcast — the
   * only corpus-sized shuffle is the per-doc gram aggregation.
   */
  private def charGrams(textCol: Column, n: Int): Column = {
    val norm = regexp_replace(trim(lower(textCol)), "\\s+", " ")
    // empty array for too-short text — sequence(1, <1) would descend
    when(length(norm) >= n,
      transform(sequence(lit(1), length(norm) - (n - 1)),
        i => substring(norm, i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  def languageProfiles(docs: DataFrame, langCol: Column, textCol: Column,
      n: Int = 3, topK: Int = 50): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("__c").desc, col("gram"))
    docs
      .select(langCol.as("lang"), explode(charGrams(textCol, n)).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("__c"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("lang", "gram", "rank")
  }

  def classifyByProfile(docs: DataFrame, idCol: Column, textCol: Column,
      profiles: DataFrame, n: Int = 3, topK: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // Per-doc profiles run inside the [[graft.functions.TopGramProfile]]
    // kernel: the former explode-every-gram → groupBy(doc, gram) →
    // per-doc rank window spelling shuffled one row per CHARACTER of
    // the corpus; the kernel counts and ranks in-row (same (count
    // desc, gram asc) total order, same short-text empty guard), so
    // only topK rows per document reach the exchange. Equivalence is
    // pinned by TextExpressionsSpec against the window spelling.
    val norm = regexp_replace(trim(lower(textCol)), "\\s+", " ")
    // The profile table is tiny by construction (|langs| × topK rows —
    // a bounded control-plane read); it rides the classifier kernel's
    // closure, and the whole out-of-place distance + argmin runs
    // in-row: ZERO shuffles and no docs × langs intermediate (the
    // former crossJoin + two-level aggregation spelling exchanged
    // topK × |langs| rows per document twice).
    val profRows = profiles.select(col("lang"), col("gram"), col("rank"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rs) =>
        (l, rs.map(r => (r.getString(1), r.getInt(2))).toSeq)
      }.toSeq
    val classify = call_function("profile_classify", norm, lit(n), lit(topK),
      lit(graft.functions.ProfileClassify.encodeProfiles(profRows)))
    docs.select(idCol.as("doc_id"), classify.as("__best"))
      .where(col("__best").isNotNull)
      .select(col("doc_id"), col("__best.pred_lang").as("pred_lang"),
        col("__best.distance").as("distance"))
  }

  /**
   * Quality features: char/token counts, mean token length, stopword
   * ratio, punctuation count. Ratios are plain double divisions of
   * exactly-computed integers (deterministic across engines).
   */
  def qualityFeatures(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val t = tokens(textCol)
    val nTokens = size(t)
    val nChars = length(textCol)
    val sumTokLen = length(concat_ws("", t))
    val stopHits = hitCount(t, EnStopwords)
    val punct = length(regexp_replace(textCol, "[^.,;:!?]", ""))
    df.select(
      idCol.as("doc_id"),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      (sumTokLen.cast("double") / nTokens.cast("double")).as("mean_token_len"),
      (stopHits.cast("double") / nTokens.cast("double")).as("stopword_ratio"),
      punct.as("punct_count"))
  }

  /**
   * Document fingerprint: order-sensitive rolling hash over the token
   * stream (chained xxhash64, ANSI-safe: no overflowing arithmetic) —
   * reorderings of the same bag of words get different prints,
   * whitespace/case changes do not.
   */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, tok) => xxhash64(acc, tok))

  /**
   * [[fingerprint]] with the engine-parity hash family: 48-bit md5
   * token prefixes chained through the packed double 31-bit polynomial
   * fold ([[graft.functions.PolyFingerprint]], a codegen'd O(n) loop —
   * the same arithmetic as the duplicate-span window hash with k = n).
   * Same invariances (case/whitespace-insensitive, order- and
   * content-sensitive), but an external SQL engine replays it
   * bit-exactly (DuckDB `list_reduce` over the same lambda). Use where
   * a cross-engine oracle must certify the prints themselves.
   */
  def fingerprintParity(text: Column): Column = {
    // Column=>Column like its sibling above; the kernel registers
    // against the active session (entries/specs always evaluate on it)
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("poly_fingerprint", transform(tokens(text),
      t => conv(substring(md5(encode(t, "UTF-8")), 1, 12), 16, 10).cast("long")))
  }

  /**
   * BPE-ish regex pre-tokenizer: letter runs, digit runs, and single
   * non-alphanumeric marks over the lowercased text — the shape of the
   * GPT-2 pre-tokenizer pattern without lookahead (so RE2-based engines
   * can evaluate the identical expression; the oracle does). Subword
   * merge tables are model artifacts; the pre-tokenizer is the pipeline
   * half — sub-token counts for quality filters and token budgeting.
   * Narrow codegen-able projection, scan speed at 100 TB.
   */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Sub-token array under [[BpeTokenPattern]]. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpeTokenPattern), lit(0))

  /** Sub-token count under [[BpeTokenPattern]]. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /**
   * Corpus vocabulary: token -> document-wide occurrence count, top-k
   * by frequency (tie-break on token for determinism). One explode +
   * one hash shuffle with map-side partial aggregation; the top-k is a
   * TakeOrdered over the per-token aggregates, not a global sort of
   * the corpus.
   */
  def vocabulary(df: DataFrame, textCol: Column, k: Int): DataFrame =
    df.select(explode(tokens(textCol)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)

  /**
   * Gopher-style repetition metrics (Rae et al. 2021 §A1.1): the
   * fraction of the document claimed by its most frequent word and
   * most frequent word bigram, plus the distinct-word fraction.
   * Machine-generated or boilerplate text scores high on the top-n-gram
   * fractions and low on distinctness; natural prose does not.
   *
   * Shape at 100 TB: ONE explode pass over the corpus — both n-gram
   * orders ride the same exploded (order, gram) table — into a
   * groupBy(doc_id, order, gram) count; map-side partial aggregation
   * absorbs the within-document repetition (exactly the skew the metric
   * detects), then a per-doc conditional max collapses both orders in
   * one aggregate. No all-pairs, no windows over the corpus. All ratios
   * are single IEEE divisions of exact ints, so any engine re-derives
   * them bit-identically.
   */
  /** Longest run of equal values in a SORTED string array — i.e. the
    * mode's multiplicity — as one codegen'd array fold. */
  private def maxRun(sorted: Column): Column = {
    val init = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    val folded = aggregate(sorted, init, (acc, x) => {
      val run = when(acc("prev") === x, acc("run") + 1).otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
    })
    folded("best")
  }

  def repetitionFeatures(df: DataFrame, idCol: Column, textCol: Column,
      maxWordFrac: Double = 0.2, maxBigramFrac: Double = 0.18): DataFrame = {
    // Shuffle-FREE shape: both mode multiplicities are per-document
    // facts, so they never need a corpus shuffle — sort each doc's
    // (bounded, context-length) token array and take the longest equal
    // run with one array fold; distinct count is array_distinct. The
    // whole operator is a narrow projection the parquet scan streams
    // through — zero exchanges at any corpus size. Arrays are projected
    // once per stage so CollapseProject cannot inline the split twice.
    val bigrams = when(size(col("__toks")) >= 2,
      transform(sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ", element_at(col("__toks"), i),
          element_at(col("__toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val agg = df
      .select(idCol.as("doc_id"), tokens(textCol).as("__toks"))
      .select(col("doc_id"), col("__toks"), bigrams.as("__bi"))
      .select(col("doc_id"),
        size(col("__toks")).as("n_words"),
        size(array_distinct(col("__toks"))).as("n_distinct"),
        maxRun(sort_array(col("__toks"))).as("top_1gram"),
        coalesce(maxRun(sort_array(col("__bi"))), lit(0L)).as("top_2gram"))
    val wordFrac = col("top_1gram").cast("double") / col("n_words").cast("double")
    val bigramFrac = col("top_2gram").cast("double") / (col("n_words") - 1).cast("double")
    agg.select(col("doc_id"), col("n_words"),
      (col("n_distinct").cast("double") / col("n_words").cast("double")).as("distinct_frac"),
      wordFrac.as("top_word_frac"),
      bigramFrac.as("top_bigram_frac"),
      (wordFrac <= maxWordFrac && bigramFrac <= maxBigramFrac).as("keep"))
  }

  /**
   * Token-window chunking with overlap — the context-length budgeting
   * primitive of training-data and retrieval pipelines: each document
   * splits into windows of `maxTokens` tokens whose starts step by
   * `stride = maxTokens - overlap`, so consecutive chunks share
   * `overlap` tokens. The final partial window is kept; trailing
   * windows that would only repeat already-covered tokens are not
   * emitted (chunk i exists iff i == 0 or i*stride < n - overlap).
   *
   * Shape at 100 TB: ONE posexplode pass — each token computes the
   * integral range of chunk ids containing it (at most
   * ceil(maxTokens/stride) ids, a constant) and emits one row per id;
   * reassembly is a hash aggregate per (doc, chunk) with order restored
   * from token position. No window over the corpus, no self-join; the
   * fan-out factor is exactly the overlap redundancy a downstream
   * trainer pays anyway. All arithmetic integral — any engine
   * re-derives chunk boundaries bit-identically.
   */
  def chunkDocuments(df: DataFrame, idCol: Column, textCol: Column,
      maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    val toks = df.select(idCol.as("doc_id"),
        size(tokens(textCol)).as("n_doc"),
        posexplode(tokens(textCol)).as(Seq("pos", "tok")))
    // chunks containing pos: i in [ceil((pos-maxTokens+1)/stride), pos/stride]
    // clamped at 0. ceil(a/b) = floor((a+b-1)/b) = (pos-maxTokens+stride)/stride;
    // because of the max(0, ·) clamp the formula agrees under BOTH floor
    // and truncating integer division (engines differ on negatives)
    val lo = greatest(lit(0L),
      floor((col("pos") + lit(stride - maxTokens)).cast("double") / stride).cast("long"))
    val hi = floor(col("pos").cast("double") / stride).cast("long")
    toks.select(col("doc_id"), col("n_doc"), col("pos"), col("tok"),
        explode(sequence(lo, hi)).as("chunk_id"))
      .where(col("chunk_id") === 0 ||
        col("chunk_id") * stride < col("n_doc") - overlap)
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        min(col("pos")).cast("long").as("start_pos"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
  }

  /**
   * Corpus-rarity quality features: per document, statistics of its
   * tokens' corpus-wide occurrence counts — mean corpus frequency
   * (high = boilerplate-ish), hapax fraction (tokens occurring exactly
   * once in the corpus; high = noisy/OCR garbage), and min frequency.
   * The exact-arithmetic half of perplexity scoring: every figure is a
   * ratio of exactly-counted integers, so any engine reproduces it
   * bit-identically (a log-prob LM score would hang determinism on
   * transcendental libm rounding).
   *
   * Shape at 100 TB: one explode into a (doc, token) partial-agg
   * (absorbs within-doc repetition map-side), one token-keyed join
   * against the corpus vocabulary (itself one shuffle; AQE splits the
   * stop-token skew), one final doc aggregate. Never all-pairs.
   */
  def rarityFeatures(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = df.select(idCol.as("doc_id"), explode(tokens(textCol)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n_in_doc"))
    val vocab = toks.groupBy("tok").agg(sum("n_in_doc").as("corpus_n"))
    toks.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(sum("n_in_doc").as("n_tokens"),
        sum(col("n_in_doc") * col("corpus_n")).as("freq_mass"),
        sum(when(col("corpus_n") === 1, col("n_in_doc")).otherwise(0L)).as("n_hapax"),
        min("corpus_n").as("min_corpus_n"))
      .select(col("doc_id"), col("n_tokens"),
        (col("freq_mass").cast("double") / col("n_tokens").cast("double"))
          .as("mean_corpus_freq"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_frac"),
        col("min_corpus_n"))
  }

  /**
   * Sequence packing — the pretraining batch-assembly primitive: all
   * documents are concatenated in `doc_id` order into one token stream,
   * and the stream is cut into fixed sequences of `contextLen` tokens
   * (documents crossing a boundary are split, exactly the GPT-style
   * "concat then chunk" packing; no padding except in the final
   * sequence). Returns one row per (sequence, document-span):
   * `seq_id`, `doc_id`, `seq_pos` (span start inside the sequence),
   * `doc_pos` (span start inside the document), `n_toks`.
   *
   * Shape at 100 TB: each document's start position in the global stream
   * is a prefix sum of token counts — computed with the same two-phase
   * chunked pattern as the log's offset assignment
   * ([[graft.log.RecordLog.assignOffsetsScalable]]): per-4096-doc-chunk
   * token totals are prefix-summed on the tiny chunk table and broadcast
   * back, so no task scans more than one chunk and no window spans the
   * corpus. Span emission is a constant-bounded explode (a document
   * touches ceil(n/contextLen)+1 sequences at most). All arithmetic is
   * integral — any engine re-derives every boundary bit-identically.
   */
  def packSequences(df: DataFrame, idCol: Column, textCol: Column,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val c = lit(contextLen.toLong)
    val counts = df.select(idCol.cast("long").as("doc_id"),
        size(tokens(textCol)).cast("long").as("n_doc"))
      .withColumn("__chunk", floor(col("doc_id") / 4096).cast("long"))
    val chunkAgg = counts.groupBy("__chunk").agg(sum("n_doc").as("__n"))
    // global prefix over the chunk table: #docs/4096 rows, not the corpus
    val baseW = Window.orderBy("__chunk").rowsBetween(Window.unboundedPreceding, -1)
    val bases = chunkAgg
      .withColumn("__base", coalesce(sum("__n").over(baseW), lit(0L)))
      .select("__chunk", "__base")
    val localW = Window.partitionBy("__chunk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val started = counts.join(broadcast(bases), Seq("__chunk"))
      .withColumn("__start", col("__base") + coalesce(sum("n_doc").over(localW), lit(0L)))
    // A zero-token document landing exactly on a context boundary has
    // upper < lower; Spark's sequence() would DESCEND and emit phantom
    // spans (one out of range at seq_pos=contextLen), so the empty case
    // is made explicit. Off-boundary empty docs keep their single
    // zero-length span row (generate_series semantics).
    val lo = floor(col("__start") / c).cast("long")
    val hi = floor((col("__start") + col("n_doc") - 1) / c).cast("long")
    started
      .select(col("doc_id"), col("n_doc"), col("__start"),
        explode(when(hi >= lo, sequence(lo, hi))
          .otherwise(array().cast("array<bigint>"))).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        (greatest(col("__start"), col("seq_id") * c) - col("seq_id") * c).as("seq_pos"),
        (greatest(col("__start"), col("seq_id") * c) - col("__start")).as("doc_pos"),
        (least(col("__start") + col("n_doc"), (col("seq_id") + 1) * c) -
          greatest(col("__start"), col("seq_id") * c)).as("n_toks"))
  }

  /**
   * BPE merge-table learning (Sennrich et al. 2016) — the subword
   * tokenizer-training half of a data pipeline. Classic BPE trainers
   * operate on the corpus WORD-FREQUENCY table, not the corpus: the
   * distributed part is one explode + one hash-shuffle count (scales to
   * 100 TB like any vocabulary build), and the iterative merge loop runs
   * on the bounded top-`maxWords` table on the driver — bounded driver
   * state by construction, the same pattern every published BPE trainer
   * uses (the word tail contributes negligible pair mass). Only
   * lowercase pure-letter words train merges (punctuation and digit runs
   * are their own symbols under [[BpeTokenPattern]]).
   *
   * Fully deterministic: pair argmax ties break lexicographically and
   * all counts are integral, so any engine re-derives the same table.
   * Returns (rank, left, right, pair_count), rank 1 = first merge.
   */
  def learnBpeMerges(df: DataFrame, textCol: Column, nMerges: Int,
      maxWords: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words: Array[(String, Long)] = df.select(explode(tokens(textCol)).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .as[(String, Long)].collect()
    var syms: Array[(Array[String], Long)] =
      words.map { case (w, c) => (w.split("").filter(_.nonEmpty), c) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((s, c) <- syms; i <- 0 until s.length - 1)
        pairCounts((s(i), s(i + 1))) = pairCounts.getOrElse((s(i), s(i + 1)), 0L) + c
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), n) = pairCounts.toSeq.minBy { case ((a, b), m) => (-m, a, b) }
        merges += ((rank, l, r, n))
        syms = syms.map { case (s, c) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += l + r; i += 2 }
            else { out += s(i); i += 1 }
          }
          (out.toArray, c)
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /**
   * BPE encoding with a learned merge table: per whitespace token, split
   * pure-letter words to characters and apply merges lowest-rank-first
   * (each round merges every occurrence of the best-ranked pair present,
   * left to right) until none applies; other tokens stay single symbols.
   * Returns the encoded sub-token count of the text.
   *
   * The per-token merge loop is genuinely imperative (priority-driven
   * fixpoint over an array) — a Scala kernel closure over the broadcast
   * merge table, like the SCRAM PBKDF2 kernel; everything around it
   * (tokenize, aggregate) stays in codegen. Encoded length is
   * deterministic: rank order is total and ties cannot arise within one
   * token scan.
   */
  def bpeEncodedCount(merges: Seq[(String, String, Int)]): Column => Column = {
    val rankOf: Map[(String, String), Int] =
      merges.map { case (l, r, k) => ((l, r), k) }.toMap
    val enc = udf { (toks: Seq[String]) =>
      if (toks == null) 0
      else toks.map { w =>
        if (!w.forall(c => c >= 'a' && c <= 'z') || w.isEmpty) 1
        else {
          var s = w.split("").filter(_.nonEmpty)
          var go = true
          while (go && s.length > 1) {
            var best = Int.MaxValue
            var bi = -1
            for (i <- 0 until s.length - 1) {
              val k = rankOf.getOrElse((s(i), s(i + 1)), Int.MaxValue)
              if (k < best) { best = k; bi = i }
            }
            if (bi < 0) go = false
            else {
              val (l, r) = (s(bi), s(bi + 1))
              val out = scala.collection.mutable.ArrayBuffer[String]()
              var i = 0
              while (i < s.length) {
                if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += l + r; i += 2 }
                else { out += s(i); i += 1 }
              }
              s = out.toArray
            }
          }
          s.length
        }
      }.sum
    }
    text => enc(tokens(text))
  }

  /** Email/phone detection patterns — shared Java-regex/RE2 subset (no
    * lookahead, no backreferences) so the oracle evaluates the exact
    * same automaton. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /**
   * PII scan + scrub: count emails/phone numbers and produce redacted
   * text with `<EMAIL>`/`<PHONE>` placeholders. Narrow codegen'd
   * projection — regex scan speed at 100 TB; no shuffle.
   */
  def piiFeatures(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val nEmails = size(regexp_extract_all(textCol, lit(EmailPattern), lit(0)))
    val nPhones = size(regexp_extract_all(textCol, lit(PhonePattern), lit(0)))
    val redacted = regexp_replace(
      regexp_replace(textCol, EmailPattern, "<EMAIL>"), PhonePattern, "<PHONE>")
    df.select(idCol.as("doc_id"),
      nEmails.as("n_emails"), nPhones.as("n_phones"),
      (nEmails + nPhones > 0).as("has_pii"),
      md5(redacted.cast("binary")).as("redacted_md5"))
  }

  /**
   * Hashed-linear document scorer — the fastText-style model-based
   * quality filter (the CCNet/DCLM shape: a linear classifier over
   * hashed bag-of-words features decides keep/drop at corpus scale).
   * Tokens hash to `buckets` feature slots via the md5-prefix bucket
   * (engine-independent, the same device as [[Sampling.hashBucket]]);
   * the weight table `(bucket, weight)` — in production the trained
   * model, INTEGER weights so the margin is exact-summable in any
   * order on any engine — broadcasts; a document's margin is the sum
   * of its token-bucket weights plus `bias`, and `keep` = margin > 0.
   *
   * Scale shape: explode + broadcast join + one partial-agg groupBy per
   * doc_id — map-side combine collapses each partition's tokens before
   * the shuffle; the model rides the closure exactly like any broadcast
   * dimension. No UDF, no driver loop, no floating-point order
   * dependence.
   */
  /**
   * Batch-perceptron TRAINING for the hashed-linear quality filter —
   * the step that produces [[hashedLinearScore]]'s weight table (the
   * DCLM/fastText recipe: label a seed set, train a linear model over
   * hashed bag-of-words features, filter the corpus with it). Integer
   * weights, BATCH updates (learning rate 1): the epoch gradient is a
   * SUM of per-doc errors over the docs containing each bucket, so the
   * result is partitioning- and order-independent and an external SQL
   * engine replays every epoch exactly. Features are the DISTINCT
   * md5-prefix buckets of a doc's tokens (binary features); prediction
   * is `margin > 0`.
   *
   * Scale shape per epoch: one broadcast join of the ≤`buckets`-row
   * weight table onto the pinned feature table, one per-doc aggregate
   * (map-side combined), one per-bucket aggregate whose ≤`buckets`-row
   * result is the only driver-side collect — the bounded-loop pattern
   * of the BPE trainer. Returns (weights `(bucket, w)`, history
   * `(epoch, n_wrong, w_abs_sum)` with the pre-update error count).
   */
  def trainHashedPerceptron(df: DataFrame, idCol: Column, textCol: Column,
      labelCol: Column, buckets: Int, epochs: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    require(epochs >= 1 && buckets >= 2)
    val feats = df.select(idCol.as("doc_id"), labelCol.cast("long").as("label"),
        explode(array_distinct(transform(tokens(textCol),
          t => Sampling.hashBucket(t, buckets)))).as("bucket"))
      .pinned()
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    val hist = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (epoch <- 1 to epochs) {
      val wDf = w.toSeq.toDF("bucket", "w")
      val errs = feats.join(broadcast(wDf), Seq("bucket"), "left")
        .groupBy("doc_id", "label")
        .agg(sum(coalesce(col("w"), lit(0L))).as("margin"))
        .select(col("doc_id"),
          (col("label") - when(col("margin") > 0, 1L).otherwise(0L)).as("err"))
        .pinned()
      val nWrong = errs.agg(sum(abs(col("err")))).head.getLong(0)
      val upd = feats.join(errs, "doc_id")
        .groupBy("bucket").agg(sum("err").as("u"))
        .as[(Long, Long)].collect()
      w = upd.foldLeft(w) { case (acc, (b, u)) => acc.updated(b, acc(b) + u) }
      hist += ((epoch, nWrong, w.values.map(math.abs).sum))
    }
    (w.toSeq.toDF("bucket", "w"), hist.toSeq.toDF("epoch", "n_wrong", "w_abs_sum"))
  }

  def hashedLinearScore(df: DataFrame, idCol: Column, textCol: Column,
      weights: DataFrame, buckets: Int, bias: Long = 0L): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // explode_outer + left join so every document gets a verdict:
    // null/empty text (and tokens hashing to buckets a pruned model
    // omits) contribute weight 0, degenerating the margin to the bias —
    // never a silently unscored document.
    df.select(idCol.as("doc_id"),
        explode_outer(filter(tokens(textCol), t => length(t) > 0)).as("__tok"))
      .withColumn("bucket", Sampling.hashBucket(col("__tok"), buckets))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg((coalesce(sum("weight"), lit(0L)) + bias).as("margin"))
      .withColumn("keep", col("margin") > 0)
  }

  /**
   * Exact repeated-span detection — the ExactSubstr-dedup primitive
   * (suffix-array substring dedup re-expressed k-gram-bucketed, the
   * shape that distributes): every k-token window of every document
   * hashes; a window hash seen in >= 2 DISTINCT documents marks its
   * k-token span as duplicated, and per document the overlapping
   * duplicated spans merge into maximal repeated regions.
   *
   * Returns per doc: `n_tokens`, `n_dup_tokens` (tokens covered by a
   * merged region), `dup_frac`, `n_regions`. Documents shorter than k
   * carry no windows and report zero duplication.
   *
   * Scale shape: one posexplode (constant factor k in output width,
   * linear in corpus tokens), one hash-group for the duplicate-hash
   * set, a semi-join back, and per-DOC windows for the interval merge
   * (never a global window). Window hashing is ONE md5-prefix per
   * TOKEN (48 bits — wide enough that token aliasing is negligible at
   * billion-token vocabulary scale) followed by TWO polynomial folds
   * mod coprime 31-bit primes whose pair packs into one 62-bit key —
   * a ~2^62 window-hash space, so span aliasing stays negligible at
   * 10^12 windows (a single 31-bit fold would alias constantly, and a
   * 32-bit token prefix would merge real tokens). Pure integer
   * arithmetic, every intermediate < 2^63, so the DuckDB oracle
   * reproduces it bit-exactly without overflow; still ~k× fewer
   * hashed bytes than hashing each window's concatenated text.
   */
  val SpanHashBase1 = 131L
  val SpanHashBase2 = 137L
  val SpanHashMod1 = 2147483647L // 2^31 - 1, prime
  val SpanHashMod2 = 2147483629L // prime

  def duplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int): DataFrame = {
    require(k > 1, "span length must exceed one token")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val base = df.select(idCol.as("doc_id"), tokens(textCol).as("__toks"))
      .select(col("doc_id"), col("__toks"), size(col("__toks")).as("n_tokens"))
    val grams = spanGrams(base, k)
    val dupHashes = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("__docs"))
      .where(col("__docs") >= 2)
      .select("h")
    val marked = grams.join(dupHashes, "h")
      .select(col("doc_id"), col("p"), (col("p") + k - 1).as("pe"))
    // interval merge per doc (gaps and islands): a window starts a new
    // region iff it begins past everything seen before it
    val wPrev = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val regions = marked
      .withColumn("__rm", max("pe").over(wPrev))
      .withColumn("__new", (col("__rm").isNull || col("p") > col("__rm") + 1).cast("long"))
      .withColumn("__rid", sum("__new").over(
        Window.partitionBy("doc_id").orderBy("p")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__rid")
      .agg(min("p").as("rs"), max("pe").as("re"))
    val perDoc = regions.groupBy("doc_id")
      .agg(sum(col("re") - col("rs") + 1).as("n_dup_tokens"),
        count(lit(1)).as("n_regions"))
    base.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 5).as("dup_frac_r"))
  }

  /** Shared k-gram window-hash table of [[duplicateSpans]] and
    * [[stripDuplicateSpans]] — one spelling so detection and removal
    * can never disagree on what counts as a duplicated window. Both
    * 31-bit folds and the 62-bit packing run inside the native
    * [[graft.functions.SpanWindowHashes]] kernel — one O(n) rolling
    * primitive loop per document instead of an interpreted lambda per
    * window element (higher-order functions are CodegenFallback; the
    * per-window `aggregate(slice(...))` spelling cost O(n·k) boxed
    * steps and dominated this operator's runtime). Values are
    * bit-identical to the fold, so the SQL oracle is unchanged.
    * Input: (doc_id, __toks, n_tokens); output: (doc_id, n_tokens,
    * p, h) — one row per k-token window. */
  private def spanGrams(base: DataFrame, k: Int): DataFrame =
    base.where(col("n_tokens") >= k)
      .withColumn("__th", transform(col("__toks"),
        t => conv(substring(md5(encode(t, "UTF-8")), 1, 12), 16, 10).cast("long")))
      .select(col("doc_id"), col("n_tokens"),
        posexplode(call_function("span_window_hashes", col("__th"), lit(k))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")

  /**
   * Exact repeated-span REMOVAL — the other half of the ExactSubstr
   * recipe (Lee et al. 2022 deduplicate by CUTTING the duplicated
   * substring out of all but one occurrence, not by dropping whole
   * documents). Cross-document rule: a duplicated window's canonical
   * OWNER is the minimum doc_id containing its hash; windows in the
   * owner stay, windows elsewhere are removable and merge (the same
   * gaps-and-islands fold as [[duplicateSpans]]) into regions whose
   * token ranges are cut before the document is reassembled.
   *
   * The cleaned text is the kept tokens rejoined with single spaces
   * (token-level surgery on the normalized token stream — the
   * tokenizer-facing artifact, not a byte-offset patch of the raw
   * page). Output per doc: n_tokens, n_removed_tokens, n_cut_regions,
   * cleaned_md5.
   *
   * Preservation guarantee — best-effort, NOT absolute: ownership is
   * per WINDOW, so when ownership chains (doc A owns window w1 whose
   * region covers A's copy of window w2 owned by doc B, while every
   * OTHER copy of w2 is removable) a span can lose all its copies —
   * pinned by a spec case. This is still strictly more preserving
   * than the published ExactSubstr tool, whose default removes EVERY
   * occurrence of a duplicated span including the first (Lee et al.'s
   * released deduplicate-text-datasets cutter); single-copy keeping in
   * a parallel setting requires a cross-region serialization no
   * distributed pass provides.
   *
   * Scale shape: identical to detection (one posexplode, one
   * hash-group carrying min(doc_id), per-doc windows) plus one in-row
   * indexed filter against the bounded per-doc region list — no new
   * shuffle class.
   */
  def stripDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int): DataFrame = {
    require(k > 1, "span length must exceed one token")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val base = df.select(idCol.as("doc_id"), tokens(textCol).as("__toks"))
      .select(col("doc_id"), col("__toks"), size(col("__toks")).as("n_tokens"))
    val grams = spanGrams(base, k)
    val owners = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("__docs"), min("doc_id").as("__owner"))
      .where(col("__docs") >= 2)
      .select("h", "__owner")
    val removable = grams.join(owners, "h")
      .where(col("doc_id") =!= col("__owner"))
      .select(col("doc_id"), col("p"), (col("p") + k - 1).as("pe"))
    val wPrev = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val regions = removable
      .withColumn("__rm", max("pe").over(wPrev))
      .withColumn("__new", (col("__rm").isNull || col("p") > col("__rm") + 1).cast("long"))
      .withColumn("__rid", sum("__new").over(
        Window.partitionBy("doc_id").orderBy("p")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__rid")
      .agg(min("p").as("rs"), max("pe").as("re"))
    val perDoc = regions.groupBy("doc_id")
      .agg(collect_list(struct(col("rs"), col("re"))).as("__regs"),
        sum(col("re") - col("rs") + 1).as("n_removed_tokens"),
        count(lit(1)).as("n_cut_regions"))
    base.join(perDoc, Seq("doc_id"), "left")
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !coalesce(exists(col("__regs"),
          r => i >= r("rs") && i <= r("re")), lit(false))))
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed_tokens"), lit(0L)).as("n_removed_tokens"),
        coalesce(col("n_cut_regions"), lit(0L)).as("n_cut_regions"),
        md5(array_join(col("__kept"), " ").cast("binary")).as("cleaned_md5"))
  }

  /**
   * Hashed bigram-LM quality scoring — the CCNet-style perplexity
   * filter: a bigram language model with Laplace smoothing trains as
   * two hashed count tables over the TARGET corpus (the in-domain
   * text), and every raw document scores its mean per-bigram negative
   * log-likelihood against it; low scores read as in-domain, high as
   * out-of-domain/noise. P(w2|w1) ~ (c(w1 w2)+1)/(c(w1)+B) over B hash
   * buckets.
   *
   * Scale shape: the model IS the two bounded count tables (<= B rows
   * each) — they broadcast; scoring is one explode + two broadcast
   * joins + one partial-agg per document. Integer micro-unit log
   * accumulation, so the DuckDB oracle reproduces every sum exactly;
   * only the final mean is a rounded double.
   */
  def bigramPerplexity(raw: DataFrame, target: DataFrame, idCol: Column,
      textCol: Column, buckets: Int = 8192): DataFrame = {
    require(buckets > 0)
    def bigrams(df: DataFrame) = df
      .select(idCol.as("doc_id"), explode(Dedup.shingles(textCol, 2)).as("__g"))
      .select(col("doc_id"),
        Sampling.hashBucket(col("__g"), buckets).as("b2"),
        Sampling.hashBucket(substring_index(col("__g"), " ", 1), buckets).as("b1"))
    val tgt = bigrams(target)
    val c2 = tgt.groupBy("b2").agg(count(lit(1)).as("c2"))
    val c1 = tgt.groupBy("b1").agg(count(lit(1)).as("c1"))
    val scored = bigrams(raw)
      .join(broadcast(c2), Seq("b2"), "left")
      .join(broadcast(c1), Seq("b1"), "left")
      .select(col("doc_id"),
        floor((log(coalesce(col("c2"), lit(0L)) + lit(1))
          - log((coalesce(col("c1"), lit(0L)) + lit(buckets)).cast("double")))
          * lit(1000000.0)).as("lp_u"))
    val perDoc = scored.groupBy("doc_id")
      .agg(sum("lp_u").as("sum_logp_u"), count(lit(1)).as("n_bigrams"))
    raw.select(idCol.as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_logp_u"), lit(0L)).as("sum_logp_u"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(round((-col("sum_logp_u")).cast("double")
            / col("n_bigrams").cast("double") / lit(1000000.0), 5))
          .as("avg_nll_r"))
  }

  /** Sorted-array duplication stats in ONE fold: `top` = the maximum of
    * count×length over equal-value runs that actually REPEAT (count ≥ 2
    * — a once-only value carries no repetition signal, else every short
    * document fails on its longest n-gram), `dup` = Σ (count−1)×length
    * over values occurring ≥ 2 times (the char mass of repeated
    * occurrences beyond the first). */
  private def dupMass(sorted: Column): Column = {
    val init = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("top"), lit(0L).as("dup"))
    aggregate(sorted, init, (acc, x) => {
      val same = acc("prev") === x
      val run = when(same, acc("run") + 1).otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        when(same, greatest(acc("top"), run * length(x)))
          .otherwise(acc("top")).as("top"),
        when(same, acc("dup") + length(x)).otherwise(acc("dup")).as("dup"))
    })
  }

  /**
   * The FULL Gopher repetition-signal battery (Rae et al. 2021 §A1.1,
   * the filters MassiveText/FineWeb/Dolma run document-by-document):
   * duplicate line and paragraph fractions (count- and char-weighted),
   * top-{2,3,4}-gram char fractions (the dominant n-gram's char mass),
   * and duplicate-{5..10}-gram char fractions (char mass of repeated
   * occurrences beyond the first). `keep` applies the published
   * thresholds. Char fractions are over the space-joined token stream;
   * line/paragraph chars over the concatenated segments — exact ints,
   * single IEEE divisions, engine-reproducible.
   *
   * Scale shape: like [[repetitionFeatures]], entirely shuffle-free —
   * every signal is a sorted-array fold over per-document (bounded,
   * context-length) arrays inside one narrow projection; the corpus
   * never exchanges. The oracle derives the same numbers via
   * explode+groupBy — an independent algorithm agreeing bit-for-bit.
   */
  def repetitionSignals(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val thresholds: Map[String, Double] = Map(
      "dup_line_frac" -> 0.30, "dup_line_char_frac" -> 0.20,
      "dup_para_frac" -> 0.30, "dup_para_char_frac" -> 0.20,
      "top_2gram_char_frac" -> 0.20, "top_3gram_char_frac" -> 0.18,
      "top_4gram_char_frac" -> 0.16,
      "dup_5gram_char_frac" -> 0.15, "dup_6gram_char_frac" -> 0.14,
      "dup_7gram_char_frac" -> 0.13, "dup_8gram_char_frac" -> 0.12,
      "dup_9gram_char_frac" -> 0.11, "dup_10gram_char_frac" -> 0.10)
    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    val base = df.select(idCol.as("doc_id"), tokens(textCol).as("__toks"),
      split(textCol, "\n").as("__lines"), split(textCol, "\n\n").as("__paras"))
      // all nine n-gram masses from the native one-pass kernel
      // ([[graft.functions.RepetitionNgramStats]]) — bit-identical to
      // the per-n sort_array + dupMass fold, which built and sorted
      // nine joined-gram string arrays per document and dominated this
      // operator's runtime (the steepest entry in the 10x scale probe)
      .withColumn("__rep", call_function("repetition_ngram_stats", col("__toks")))
    def segStats(arr: Column, prefix: String): Seq[(String, Column)] = {
      val m = dupMass(sort_array(arr))
      Seq(
        s"dup_${prefix}_frac" ->
          frac(size(arr) - size(array_distinct(arr)), size(arr)),
        s"dup_${prefix}_char_frac" ->
          frac(m.getField("dup"), length(concat_ws("", arr))))
    }
    val wordChars = length(concat_ws(" ", col("__toks")))
    val tops = (2 to 4).map(n => s"top_${n}gram_char_frac" ->
      frac(col("__rep").getField(s"top$n"), wordChars))
    val dups = (5 to 10).map(n => s"dup_${n}gram_char_frac" ->
      frac(col("__rep").getField(s"dup$n"), wordChars))
    val signals = segStats(col("__lines"), "line") ++
      segStats(col("__paras"), "para") ++ tops ++ dups
    val keep = signals.map { case (name, c) => c <= thresholds(name) }
      .reduce(_ && _)
    base.select(col("doc_id") +:
      signals.map { case (name, c) => round(c, 5).as(name + "_r") } :+
      keep.as("keep"): _*)
  }

  /**
   * BM25 top-k retrieval over the corpus — the lexical ranking half of
   * training-data curation (targeted decontamination, retrieval-based
   * selection, eval-set mining). Okapi BM25 with the +1 idf variant:
   * `idf = ln((N - df + 0.5)/(df + 0.5) + 1)`, term score
   * `idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`. Per-(doc, term)
   * contributions are floored to integer MICRO-units immediately after
   * the (only) floating-point step — the repo's engine-parity device
   * ([[bigramPerplexity]]) — so document scores are exact integer sums
   * in any aggregation order, and the top-k cut (score desc, doc_id)
   * is total.
   *
   * Scale shape: the query-term table broadcasts; the corpus pass is
   * one explode filtered DOWN to query terms before any shuffle, one
   * (doc, term) count, and bounded broadcast stat joins (N, avgdl,
   * df). The final cut is a TakeOrdered, never a global sort.
   */
  def bm25TopK(df: DataFrame, idCol: Column, textCol: Column,
      queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = df.select(idCol.as("doc_id"), tokens(textCol).as("__toks"))
    val dl = base.select(col("doc_id"), size(col("__toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = base.select(col("doc_id"), explode(col("__toks")).as("term"))
      .join(broadcast(queryTerms.select(col("term"))), Seq("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("__idf",
        log((col("n_docs").cast("double") - col("df") + 0.5) /
          (col("df").cast("double") + 0.5) + 1))
      .withColumn("__contrib_u",
        floor(col("__idf") * (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("__avgdl")))
          * 1000000.0).cast("long"))
      .groupBy("doc_id").agg(sum("__contrib_u").as("score_u"))
    scored.orderBy(col("score_u").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_u").desc, col("doc_id"))))
      .select("rank", "doc_id", "score_u")
  }

  /**
   * The C4 cleaning rules (Raffel et al. 2020 §2.2 — the canonical
   * web-corpus filter): LINE level, keep only lines that end in a
   * terminal punctuation mark (`.!?"`), carry at least `minLineWords`
   * words, and do not mention javascript; PAGE level, drop any page
   * with fewer than `minSentences` sentences (counted as terminal
   * marks across the page), or containing `lorem ipsum` or a curly
   * brace. Returns the verdict columns plus the md5 of the CLEANED
   * page (kept lines re-joined) — the actual C4 output artifact.
   *
   * One narrow array-lambda projection per document; no explode, no
   * shuffle, engine-exact counts.
   */
  def c4Rules(df: DataFrame, idCol: Column, textCol: Column,
      minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val lines = split(textCol, "\n")
    def lineKeep(l: Column): Column =
      l.rlike("[.!?\"]\\s*$") &&
        size(split(trim(l), "\\s+")) >= minLineWords &&
        !lower(l).contains("javascript")
    val kept = filter(lines, lineKeep(_))
    val nSentences = length(textCol) - length(translate(textCol, ".!?", ""))
    val hasLorem = lower(textCol).contains("lorem ipsum")
    val hasBrace = textCol.contains("{")
    df.select(idCol.as("doc_id"),
      size(lines).as("n_lines"),
      size(kept).as("n_kept_lines"),
      nSentences.as("n_sentences"),
      hasLorem.as("has_lorem"), hasBrace.as("has_brace"),
      (size(kept) > 0 && nSentences >= minSentences &&
        !hasLorem && !hasBrace).as("keep"),
      md5(concat_ws("\n", kept).cast("binary")).as("cleaned_md5"))
  }

  /** The Gopher stop-word rule's word list (Rae et al. 2021 §A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * The full Gopher quality-rule battery (Rae et al. 2021 §A1.1) — the
   * heuristic document filter of MassiveText and its descendants
   * (RefinedWeb, FineWeb): word-count bounds, mean-word-length bounds,
   * symbol-to-word ratio (`#` and ellipses), bullet-started and
   * ellipsis-ended line fractions, the alphabetic-word fraction, and
   * the ≥2-distinct-stop-words requirement. `keep` = every rule
   * passes.
   *
   * Scale shape: one narrow codegen'd projection per document — the
   * word and line arrays are computed once and folded with array
   * lambdas; no explode, no shuffle, no UDF. Every emitted ratio is a
   * single IEEE division of exactly-counted ints, so any engine
   * re-derives the verdicts bit-identically.
   */
  def gopherRules(df: DataFrame, idCol: Column, textCol: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): DataFrame = {
    val toks = tokens(textCol)
    val nWords = size(toks)
    val meanLen = length(concat_ws("", toks)).cast("double") / nWords.cast("double")
    val nHash = length(textCol) - length(replace(textCol, lit("#"), lit("")))
    val nHell = length(textCol) - length(replace(textCol, lit("…"), lit("")))
    val nDots = (length(textCol) - length(replace(textCol, lit("..."), lit("")))) / 3
    val symbolRatio = (nHash + nHell + nDots).cast("double") / nWords.cast("double")
    val lines = split(textCol, "\n")
    val nLines = size(lines)
    val bulletFrac = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
      .cast("double") / nLines.cast("double")
    val ellipsisFrac = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
      .cast("double") / nLines.cast("double")
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]")))
      .cast("double") / nWords.cast("double")
    val stopHits = size(filter(array(GopherStopwords.map(lit): _*),
      w => array_contains(toks, w)))
    df.select(idCol.as("doc_id"),
      nWords.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
      stopHits.as("stop_hits"),
      (nWords >= minWords && nWords <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        symbolRatio <= maxSymbolRatio && bulletFrac <= maxBulletFrac &&
        ellipsisFrac <= maxEllipsisFrac && alphaFrac >= minAlphaFrac &&
        stopHits >= minStopHits).as("keep"))
  }

  /**
   * Tokenizer fertility per language — the standard multilingual
   * tokenizer-quality metric: sub-tokens per whitespace word
   * (fertility) and UTF-8 bytes per sub-token (compression), under the
   * [[BpeTokenPattern]] pre-tokenizer. High-fertility languages are
   * under-served by the tokenizer and over-billed per word of content —
   * the number that drives vocabulary-allocation decisions.
   *
   * Scale shape: a narrow per-doc count projection into a groupBy(lang)
   * with map-side partial sums; ratios are single divisions of exact
   * long sums — order-independent and engine-exact.
   */
  def tokenizerFertility(df: DataFrame, langCol: Column, textCol: Column): DataFrame =
    df.select(langCol.as("lang"),
        tokenCount(textCol).cast("long").as("__w"),
        bpeTokenCount(textCol).cast("long").as("__t"),
        octet_length(textCol).cast("long").as("__b"))
      .groupBy("lang")
      .agg(sum("__w").as("n_words"), sum("__t").as("n_subtokens"),
        sum("__b").as("n_bytes"))
      .select(col("lang"), col("n_words"), col("n_subtokens"), col("n_bytes"),
        (col("n_subtokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_bytes").cast("double") / col("n_subtokens").cast("double"))
          .as("bytes_per_subtoken"))

  /** Candidate payment-card pattern: 13-16 digits with optional single
    * space/dash separators between groups. */
  val CardPattern = "\\b(?:\\d[ -]?){12,15}\\d\\b"

  /**
   * Luhn-validated payment-card detection — PII class two: candidate
   * digit runs are cheap regex hits, but only candidates passing the
   * Luhn mod-10 checksum count (and redact), which is what separates
   * card redaction from destroying every long number in the corpus.
   *
   * The checksum is a pure array fold (`aggregate` over the reversed
   * digit array, doubling every second digit with the 9-subtraction) —
   * codegen'd Catalyst, no UDF; the oracle replays the identical fold
   * with SQL list lambdas.
   */
  def luhnValid(candidate: Column): Column = {
    val digits = split(regexp_replace(candidate, "[^0-9]", ""), "")
    val n = size(digits)
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      // i-th digit from the right (1-based), doubled on even positions
      val d = element_at(digits, n - i + 1).cast("long")
      val dd = when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
        .otherwise(d)
      acc + dd
    })
    total % 10 === 0
  }

  final case class CompressionRow(doc_id: Long, raw_bytes: Long,
      compressed_bytes: Long, ratio_ppm: Long)

  /**
   * zlib compression ratio — the classic redundancy signal a curation
   * pipeline thresholds on (boilerplate repetition compresses far
   * below prose; high-entropy noise barely compresses at all). The
   * deflate byte count is JVM-deterministic for a fixed input and
   * level but NOT reproducible by an external SQL engine, so entries
   * certify ORDERING CONTRACTS over planted classes (repetitive <
   * prose < noise) rather than hashing raw ratios.
   *
   * Scale shape: a narrow mapPartitions projection (one Deflater per
   * partition, reset per row — no per-row allocation of the 256 KiB
   * zlib state); no shuffle.
   */
  def compressionRatio(df: DataFrame, idCol: Column, textCol: Column,
      level: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("long").as("doc_id"),
        coalesce(textCol, lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level)
        // Release the ~256 KiB native zlib state when the task ends —
        // finalization is too late for executors running many tasks.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          val ppm =
            if (raw.length == 0) 1000000L
            else compressed * 1000000L / raw.length
          CompressionRow(id, raw.length.toLong, compressed, ppm)
        }
      }
      .toDF()
  }

  /** Per-doc card-PII features: candidate count, Luhn-valid count, and
    * the md5 of the text with valid cards redacted. */
  def cardPiiFeatures(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val cands = regexp_extract_all(textCol, lit(CardPattern), lit(0))
    val valid = filter(cands, luhnValid(_))
    // Redact ONLY Luhn-valid hits: fold the valid candidates over the
    // text with literal replacement (never re-regexing inside).
    val redacted = aggregate(valid, textCol,
      (acc, c) => replace(acc, c, lit("<CARD>")))
    df.select(idCol.as("doc_id"),
      size(cands).as("n_candidates"),
      size(valid).as("n_valid_cards"),
      (size(valid) > 0).as("has_card"),
      md5(redacted.cast("binary")).as("redacted_md5"))
  }

  /**
   * Source-code quality filters (the StarCoder/BigCode recipe,
   * Kocetkov et al. 2022 §II-C; also CodeParrot): per file — line
   * count, max and mean line length, alphabetic-character fraction,
   * and the auto-generated marker scan — then the keep rule
   * `max_line ≤ 1000 AND mean_line ≤ 100 AND alpha ≥ 25% AND NOT
   * autogenerated` that drops minified bundles, data blobs, and
   * generated files before code-corpus training. Mean and fraction
   * are exact ppm integers (`div`); everything is one in-row
   * array/regex projection — codegen'd, shuffle-free, scan speed at
   * 100 TB of source.
   */
  def codeQuality(df: DataFrame, idCol: Column, textCol: Column,
      maxLineChars: Long = 1000L, maxMeanLineU: Long = 100000000L,
      minAlphaU: Long = 250000L): DataFrame = {
    df.select(idCol.as("doc_id"), textCol.as("__t"))
      .withColumn("__raw", split(col("__t"), "\n"))
      .withColumn("__nraw", size(col("__raw")).cast("long"))
      // splitlines() semantics: a newline-terminated file (virtually
      // every source file) must not carry a phantom empty last line —
      // it would over-count n_lines and deflate the mean-line gate.
      .withColumn("__lines",
        when(col("__nraw") > 1 && element_at(col("__raw"), -1) === "",
            slice(col("__raw"), lit(1), (col("__nraw") - 1).cast("int")))
          .otherwise(col("__raw")))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("max_line_chars",
        array_max(transform(col("__lines"), l => length(l).cast("long"))))
      .withColumn("__len", length(col("__t")).cast("long"))
      // sum of line lengths = total length minus the raw separator
      // count (the dropped trailing empty contributes zero) — an
      // arithmetic identity, so no interpreted aggregate() fold runs
      // on the scan path.
      .withColumn("__sum", col("__len") - (col("__nraw") - 1))
      .withColumn("__alpha",
        length(regexp_replace(col("__t"), "[^A-Za-z]", "")).cast("long"))
      .withColumn("mean_line_u", expr("__sum * 1000000 div greatest(n_lines, 1)"))
      .withColumn("alpha_frac_u", expr("__alpha * 1000000 div greatest(__len, 1)"))
      // the generated-file markers count only in the HEADER (first 5
      // lines) per the recipe — a file that merely MENTIONS the phrase
      // mid-body (a generator's own template literal, prose advice) is
      // hand-written code and must not be dropped
      .withColumn("autogen", {
        val head = lower(array_join(slice(col("__lines"), 1, 5), "\n"))
        contains(head, lit("auto-generated")) || contains(head, lit("do not edit"))
      })
      .withColumn("keep", col("max_line_chars") <= maxLineChars &&
        col("mean_line_u") <= maxMeanLineU &&
        col("alpha_frac_u") >= minAlphaU && !col("autogen"))
      .select("doc_id", "n_lines", "max_line_chars", "mean_line_u",
        "alpha_frac_u", "autogen", "keep")
  }

  /** SPDX identifier pattern — the machine-readable license tag. */
  private val SpdxPattern = "SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)"

  /**
   * License detection for code/document corpora — the
   * redistribution gate every code-data pipeline runs before
   * training: extract the SPDX tag when present (the authoritative,
   * machine-readable spelling), else scan for the common license-name
   * markers, and classify permissive / copyleft / unknown. A fixed
   * first-match ladder (SPDX beats prose markers; copyleft markers
   * beat permissive when both appear — the conservative call for a
   * redistribution decision). One codegen'd regex/contains
   * projection, shuffle-free.
   */
  def licenseDetect(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    // strip a sentence-final period the greedy class would absorb
    // ("SPDX-License-Identifier: MIT. See LICENSE") — ids contain dots
    // internally (GPL-3.0) but never terminally
    val spdx = regexp_replace(regexp_extract(textCol, SpdxPattern, 1), "\\.$", "")
    val low = lower(textCol)
    val spdxLow = lower(spdx)
    val copyleftSpdx = spdxLow.startsWith("gpl") ||
      spdxLow.startsWith("agpl") || spdxLow.startsWith("lgpl")
    val permissiveSpdx = spdxLow === "mit" || spdxLow.startsWith("apache") ||
      spdxLow.startsWith("bsd") || spdxLow === "isc" || spdxLow === "unlicense"
    val copyleftMarker = contains(low, lit("gnu general public license")) ||
      contains(low, lit("copyleft"))
    val permissiveMarker = contains(low, lit("mit license")) ||
      contains(low, lit("apache license")) || contains(low, lit("bsd license"))
    df.select(idCol.as("doc_id"),
      when(spdx =!= "", spdx).otherwise(lit("")).as("spdx"),
      when(spdx =!= "",
          when(copyleftSpdx, lit("copyleft"))
            .when(permissiveSpdx, lit("permissive"))
            .otherwise(lit("unknown")))
        .when(copyleftMarker, lit("copyleft"))
        .when(permissiveMarker, lit("permissive"))
        .otherwise(lit("unknown")).as("license_class"))
  }
}
