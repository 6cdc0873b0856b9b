package graft.analytics

import graft.{Overlap, Pins}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Instruction-tuning (SFT/chat) data preparation: the post-training
 * counterpart of the pre-training cleaning pipeline. A conversation is
 * a `(conv_id, turn_idx, role, content)` table — the normal form every
 * chat-data pipeline reduces its JSON/ShareGPT/OpenAI-format inputs to
 * — and the operators here are the standard curation passes over it:
 *
 *  - [[assemble]]: group raw rows into ordered multi-turn conversations
 *    with alternating roles (the flattening step after format parsing);
 *  - [[render]]: serialize a conversation through a chat template into
 *    the single training string (special-token wrapping + generation
 *    prompt) — what the tokenizer actually sees;
 *  - [[validate]]: the structural rule gate (roles must alternate,
 *    first turn user, last turn assistant, no empty turns, bounded turn
 *    count) that every SFT pipeline applies before training;
 *  - [[dedupByAssistant]]: conversation-level dedup keyed on the
 *    normalized ASSISTANT side only — the standard trick, since user
 *    paraphrase varies freely while duplicated assistant outputs are
 *    what actually overfit;
 *  - [[trimToBudget]]: context-window packing — keep the longest
 *    SUFFIX of turns within a token budget, re-aligned to start on a
 *    user turn so the training example stays well-formed.
 *
 * Scale shape: everything is one hash shuffle on `conv_id` (windows or
 * groupBy) over narrow projections; no cross-conversation joins except
 * the dedup's tiny signature-keyed groupBy. Conversations are bounded
 * (tens of turns), so per-group state is O(1) at any corpus size —
 * 100 TB of chat data shards by conv_id with zero skew concern.
 */
object Sft {

  /** Collapse runs of whitespace and lowercase — the dedup/signature
    * normal form (matches the pipeline-wide text canonicalization). */
  private def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /**
   * Assemble flat rows into conversations: `conv_id = id % nConvs`,
   * turns ordered by id within a conversation, roles alternating
   * user/assistant from the first turn. This is the deterministic
   * grouping step a real pipeline performs on (file, line) provenance
   * keys; the modulo fixture stands in for that key so the oracle can
   * re-derive it. Output: conv_id, turn_idx, role, doc_id, content.
   */
  def assemble(docs: DataFrame, idCol: Column, textCol: Column,
      nConvs: Int): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("doc_id"))
    docs.select((idCol % nConvs).as("conv_id"), idCol.as("doc_id"),
        textCol.as("content"))
      .withColumn("turn_idx", row_number().over(w) - 1)
      .withColumn("role",
        when(col("turn_idx") % 2 === 0, lit("user")).otherwise(lit("assistant")))
      .select("conv_id", "turn_idx", "role", "doc_id", "content")
  }

  /**
   * Render a conversation through the chat template
   * `<|role|>\ncontent<|end|>\n` per turn (turn order) plus the
   * trailing `<|assistant|>\n` generation prompt. One groupBy on
   * conv_id; the sort is in-row over the collected (bounded) turn
   * list, not a shuffle sort. Output: conv_id, n_turns, prompt,
   * prompt_chars.
   */
  def render(turns: DataFrame): DataFrame = {
    val piece = concat(lit("<|"), col("role"), lit("|>\n"), col("content"),
      lit("<|end|>\n"))
    turns
      .select(col("conv_id"), struct(col("turn_idx"), piece.as("piece")).as("t"))
      .groupBy("conv_id")
      .agg(count(lit(1)).cast("long").as("n_turns"),
        concat(
          array_join(transform(array_sort(collect_list(col("t"))), t => t("piece")), ""),
          lit("<|assistant|>\n")).as("prompt"))
      .withColumn("prompt_chars", length(col("prompt")).cast("long"))
  }

  /**
   * Loss-mask spans for the rendered conversation: SFT trains on the
   * ASSISTANT tokens only — user turns and template scaffolding are
   * context, not targets — so the data-prep output is, per turn, the
   * character span its content occupies inside [[render]]'s string
   * and whether that span is trainable. Offsets are exact integer
   * cumulative sums over the same template arithmetic render uses
   * (`<|role|>\n` + content + `<|end|>\n` per turn), so
   * `substring(prompt, start_char, end_char)` recovers the turn's
   * content verbatim. One conv_id window; 0-based [start, end)
   * half-open spans. Output: conv_id, turn_idx, role, start_char,
   * end_char, trainable.
   */
  def lossMask(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val headLen = length(col("role")).cast("long") + lit(5L) // <| + |> + \n
    val pieceLen = headLen + length(col("content")).cast("long") + lit(8L) // <|end|>\n
    turns
      .withColumn("__piece", pieceLen)
      .withColumn("__before", coalesce(sum(col("__piece")).over(w), lit(0L)))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        (col("__before") + headLen).as("start_char"),
        (col("__before") + headLen + length(col("content"))).as("end_char"),
        (col("role") === "assistant").as("trainable"))
  }

  /**
   * Structural validation gate. Per conversation: turn count, roles
   * strictly alternate (no two consecutive turns share a role), first
   * turn is user, last turn is assistant, no whitespace-only turn,
   * turn count within `maxTurns` — and the conjunction `ok`. Windows
   * over conv_id only; emitted flags (not a filter) so the pipeline
   * can route rejects to a quarantine sink instead of dropping them.
   */
  def validate(turns: DataFrame, maxTurns: Int): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    turns
      .withColumn("_same_as_prev",
        when(lag(col("role"), 1).over(w) === col("role"), 1L).otherwise(0L))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).cast("long").as("n_turns"),
        (sum(col("_same_as_prev")) === 0).as("alternates"),
        (min(struct(col("turn_idx"), col("role")))("role") === "user").as("first_is_user"),
        (max(struct(col("turn_idx"), col("role")))("role") === "assistant").as("last_is_assistant"),
        (sum(when(trim(col("content")) === "", 1L).otherwise(0L)) === 0).as("no_empty"))
      .withColumn("within_max", col("n_turns") <= maxTurns)
      .withColumn("ok", col("alternates") && col("first_is_user") &&
        col("last_is_assistant") && col("no_empty") && col("within_max"))
      .select("conv_id", "n_turns", "alternates", "first_is_user",
        "last_is_assistant", "no_empty", "within_max", "ok")
  }

  /**
   * Conversation-level dedup on the normalized assistant side: the
   * signature is md5 over the turn-ordered, whitespace-collapsed,
   * lowercased assistant contents joined with `\n`. A conversation is
   * canonical iff it has the minimum conv_id within its signature
   * group. One conv_id groupBy + one signature-keyed groupBy (both
   * narrow keys); the signature is 32 bytes regardless of
   * conversation size, so the second shuffle is tiny at any scale.
   * Output: conv_id, n_assistant_turns, sig, is_canonical.
   */
  def dedupByAssistant(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sig"))
    assistantSigs(turns).withColumn("is_canonical",
        col("conv_id") === min(col("conv_id")).over(w))
      .select("conv_id", "n_assistant_turns", "sig", "is_canonical")
  }

  /** The assistant-side signature table `(conv_id, n_assistant_turns,
    * sig)` shared by [[dedupByAssistant]] (batch) and [[curateStream]]
    * (continuous) — one spelling so the two paths can never disagree
    * on what counts as a duplicate conversation. */
  private[analytics] def assistantSigs(turns: DataFrame): DataFrame =
    turns.where(col("role") === "assistant")
      .select(col("conv_id"),
        struct(col("turn_idx"), normText(col("content")).as("n")).as("t"))
      .groupBy("conv_id")
      .agg(count(lit(1)).cast("long").as("n_assistant_turns"),
        md5(array_join(transform(array_sort(collect_list(col("t"))), t => t("n")), "\n")
          .cast("binary")).as("sig"))

  /**
   * Parse JSON conversation documents (the OpenAI/ShareGPT normal
   * form `{"messages":[{"role":…,"content":…},…]}` — what chat
   * datasets actually ship as JSONL) into the `(conv_id, turn_idx,
   * role, content)` table every operator in this module consumes.
   * Schema-driven `from_json` + one `posexplode_outer`, so parsing is
   * a narrow codegen'd projection — no shuffle, scan speed over 100 TB
   * of JSONL. A document that fails to parse (or parses to no
   * messages) still emits exactly ONE row — `(conv_id, -1,
   * '_malformed_', '')` — keeping the pipeline's
   * one-row-per-input-doc attribution discipline; silent drops are
   * how malformed shards disappear unnoticed.
   */
  def parseChatJson(df: DataFrame, idCol: Column, jsonCol: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("messages", ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType)))))))
    df.select(idCol.as("conv_id"),
        posexplode_outer(coalesce(
          from_json(jsonCol, schema)("messages"),
          array().cast("array<struct<role:string,content:string>>"))))
      .select(col("conv_id"),
        coalesce(col("pos"), lit(-1)).as("turn_idx"),
        // the sentinel role marks UNPARSEABLE documents only (pos is
        // null — nothing exploded); a parsed turn whose role field is
        // merely missing keeps its row with an empty role, so sentinel
        // counts never conflate schema gaps with broken shards
        when(col("pos").isNull, lit("_malformed_"))
          .otherwise(coalesce(col("col")("role"), lit(""))).as("role"),
        coalesce(col("col")("content"), lit("")).as("content"))
  }

  /** Seed the standing curated-corpus signature index with an already-
    * curated conversation set (`batch=-1` — the pre-stream state the
    * first micro-batch judges against). */
  def initCurationState(turns: DataFrame, stateDir: String): Unit =
    assistantSigs(turns).select("conv_id", "sig")
      .write.mode("overwrite").parquet(s"$stateDir/sigs/batch=-1")

  /**
   * Continuous SFT curation with a GROWING dedup index: each
   * micro-batch of raw turns is validated ([[validate]]'s full rule
   * gate) and its valid conversations judged against the standing
   * assistant-signature index — `invalid` convs never reach dedup,
   * `dup_corpus` convs name the standing conversation they duplicate,
   * intra-batch signature groups keep their min conv_id as `new` and
   * mark the rest `dup_batch`, and only `new` conversations grow the
   * index. A later batch's copy of an earlier batch's accepted
   * conversation is therefore `dup_corpus` OF that conversation —
   * a per-arrival batch dedup would wrongly call it canonical.
   *
   * State is one append-only parquet table (`sigs` — 32-byte
   * signatures, never conversation content) partitioned by the
   * admitting micro-batch id (seed corpus is `batch=-1`, via
   * [[initCurationState]]); reads filter `batch < current` and writes
   * overwrite only the batch's own partition — the versioned-table
   * idempotence rule the other streaming twins use. Per-batch work:
   * batch-local windows plus one signature-keyed join against the
   * index — the probe side is |batch|-scale, the index side is a
   * 32-byte-row table at any corpus size. Verdict rows land in
   * `outDir/batch=N`: (conv_id, verdict, dup_of).
   */
  def curateStream(batches: DataFrame, stateDir: String, outDir: String,
      ckptDir: String, maxTurns: Int): org.apache.spark.sql.streaming.StreamingQuery =
    Pins.eachBatch(batches, ckptDir) { (scope, batch, batchId) =>
      val turns = scope.pin(batch.select("conv_id", "turn_idx", "role", "content"))
      val flags = scope.pin(validate(turns, maxTurns).select("conv_id", "ok"))
      val valid = turns.join(flags.where(col("ok")).select("conv_id"),
        Seq("conv_id"))
      val sigs = scope.pin(assistantSigs(valid).select("conv_id", "sig"))
      val prior = batch.sparkSession.read.parquet(s"$stateDir/sigs")
        .where(col("batch") < batchId)
        .groupBy("sig").agg(min("conv_id").as("prior_conv"))
      val batchMin = sigs.groupBy("sig").agg(min("conv_id").as("batch_min"))
      val judged = sigs
        .join(prior, Seq("sig"), "left")
        .join(batchMin, Seq("sig"))
        .select(col("conv_id"),
          when(col("prior_conv").isNotNull, lit("dup_corpus"))
            .when(col("conv_id") =!= col("batch_min"), lit("dup_batch"))
            .otherwise(lit("new")).as("verdict"),
          when(col("prior_conv").isNotNull, col("prior_conv"))
            .when(col("conv_id") =!= col("batch_min"), col("batch_min"))
            .otherwise(lit(null).cast("long")).as("dup_of"))
      // Pin the verdicts: the judge DAG evaluates ONCE and both the
      // output write and the index growth read the pin.
      val invalid = flags.where(!col("ok")).select(col("conv_id"),
        lit("invalid").as("verdict"), lit(null).cast("long").as("dup_of"))
      val verdicts = scope.pin(judged.unionByName(invalid))
      val admitted = verdicts.where(col("verdict") === "new").select("conv_id")
      Overlap.both(
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId"),
        sigs.join(admitted, Seq("conv_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$stateDir/sigs/batch=$batchId"))
    }

  /**
   * Preference-pair construction (the DPO/RLHF reward-data prep):
   * given multiple scored responses per prompt, emit one
   * (chosen, rejected) pair per prompt — chosen = best score,
   * rejected = worst (ties broken by response id ascending on BOTH
   * sides, so the pair is total-order deterministic) — and keep it
   * only when the prompt has ≥2 distinct responses and the score
   * margin clears `minMargin` (near-tie pairs teach nothing and add
   * label noise, the standard filter). Scores are caller-supplied
   * integers (quality model margins, preference-model logits in
   * micro-units, …).
   *
   * Scale shape: two rank windows + one aggregate, all keyed on
   * prompt_id — one hash shuffle, prompt-local state.
   * `responses`: (prompt_id, resp_id, score). Output: prompt_id,
   * n_responses, chosen_id, rejected_id, margin, kept.
   */
  def preferencePairs(responses: DataFrame, minMargin: Long): DataFrame = {
    val best = Window.partitionBy(col("prompt_id"))
      .orderBy(col("score").desc, col("resp_id"))
    val worst = Window.partitionBy(col("prompt_id"))
      .orderBy(col("score").asc, col("resp_id"))
    responses
      .withColumn("_rb", row_number().over(best))
      .withColumn("_rw", row_number().over(worst))
      .groupBy("prompt_id")
      .agg(
        count(lit(1)).cast("long").as("n_responses"),
        min(when(col("_rb") === 1, col("resp_id"))).as("chosen_id"),
        min(when(col("_rb") === 1, col("score"))).as("chosen_score"),
        min(when(col("_rw") === 1, col("resp_id"))).as("rejected_id"),
        min(when(col("_rw") === 1, col("score"))).as("rejected_score"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .withColumn("kept", col("n_responses") >= 2 &&
        col("chosen_id") =!= col("rejected_id") && col("margin") >= minMargin)
      .select("prompt_id", "n_responses", "chosen_id", "rejected_id",
        "margin", "kept")
  }

  /**
   * Context-window trim: keep the longest SUFFIX of whole turns whose
   * whitespace-token total fits `budgetTokens`, then advance the start
   * past any leading assistant turns so the kept slice begins on a
   * user turn (a slice that opens with the model's own reply trains
   * on an answer with no question). Two windows over conv_id: a
   * reverse cumulative token sum, then a min-over-kept-user-turns.
   * Output per turn: conv_id, turn_idx, role, n_tokens, tail_tokens,
   * kept.
   */
  def trimToBudget(turns: DataFrame, budgetTokens: Int): DataFrame = {
    val byConv = Window.partitionBy(col("conv_id"))
    val tailW = byConv.orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = TextAnalysis.tokenCount(col("content")).cast("long")
    val t = turns
      .withColumn("n_tokens", toks)
      .withColumn("tail_tokens", sum(col("n_tokens")).over(tailW))
      .withColumn("_fits", col("tail_tokens") <= budgetTokens)
    t.withColumn("_start", min(when(col("_fits") && col("role") === "user",
          col("turn_idx"))).over(byConv))
      .withColumn("kept", col("_fits") && col("_start").isNotNull &&
        col("turn_idx") >= col("_start"))
      .select("conv_id", "turn_idx", "role", "n_tokens", "tail_tokens", "kept")
  }
}
