package graft.analytics

import graft.{Overlap, Pins}
import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for training-data pipelines:
 * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.
 *
 * Scale design: every method is shuffle-bounded by the *shingle/band*
 * key, never by all-pairs. MinHash candidate generation is a self-join
 * on (band_id, band_hash) buckets; exact verification only touches the
 * candidate set. Document-frequency caps bound skew from stop-shingles.
 */
object Dedup {

  /** Word n-gram shingles (lowercased, whitespace-tokenized). Documents
   *  shorter than `n` tokens produce no shingles (and so never pair) —
   *  matching the SQL-oracle semantics; a whole-text fallback would let
   *  any two short docs pair at Jaccard 1.0. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: group identical texts (by md5 of normalized text),
   *  keep lowest id as the canonical representative. */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(lower(textCol)).as("text_hash"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("copies"))

  /** (doc_id, shingle) exploded-distinct pairs. */
  def shingled(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    df.select(idCol.as("doc_id"), explode(shingles(textCol, n)).as("shingle")).distinct()

  /** Query parameters dropped by [[canonicalUrl]] — the tracking keys
    * (utm_*, click ids, referrer tags) that vary per crawl visit
    * without changing the fetched page. */
  val TrackingParamPattern = "^(utm_[^=]*|gclid|fbclid|msclkid|ref)="

  /**
   * RFC-3986-style URL canonicalization — the dedup key every
   * CommonCrawl-derived corpus computes BEFORE text dedup (two crawls
   * of one page differ in tracking params / fragment / case long
   * before their texts differ): lowercase scheme and host, strip the
   * scheme's default port (http:80, https:443), drop the fragment,
   * default an empty path to "/", drop tracking query parameters and
   * sort the survivors bytewise.
   *
   * Pure Catalyst string expressions — regexp_extract / filter /
   * array_sort — so a SQL oracle replays the normalization verbatim
   * and the whole stage is a narrow scan-speed projection (the only
   * shuffle in [[urlDedup]] is the final hash aggregate on the
   * canonical key). Percent-encoding case and dot-segment removal are
   * deliberately out of scope: crawlers emit already-resolved absolute
   * URLs.
   */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_replace(auth, ":[0-9]+$", ""))
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val portKept = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = regexp_extract(noFrag, "\\?(.*)$", 1)
    val params = filter(split(q, "&"),
      p => p =!= "" && !p.rlike(TrackingParamPattern))
    val sortedQ = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, portKept, path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Exact dedup on the canonical URL: one hash aggregate on
    * [[canonicalUrl]] — (canonical_url, min doc id, copies). The
    * stage-0 companion of [[exact]] text dedup. */
  def urlDedup(df: DataFrame, idCol: Column, urlCol: Column): DataFrame =
    df.groupBy(canonicalUrl(urlCol).as("canonical_url"))
      .agg(min(idCol).as("doc_id"), count(lit(1)).as("copies"))

  /**
   * URL blocklist predicate — the UT1-style stage-0 gate the published
   * crawl recipes run before fetching text (RefinedWeb §3.1, FineWeb):
   * a URL is blocked when its host equals a blocked domain or is a
   * subdomain of one (suffix match on a label boundary — `evil.com`
   * blocks `www.evil.com` but NOT `notevil.com`), or its path+query
   * contains a blocked keyword. Both lists are broadcast-sized
   * literals folded into ONE codegen'd conditional (array `exists`
   * over literal arrays): no join, no shuffle, scan-speed at any
   * corpus size.
   */
  def urlBlocked(url: Column, domains: Seq[String],
      pathWords: Seq[String]): Column = {
    // Strip an optional scheme:// or a protocol-relative // prefix, so
    // scheme-less crawl spellings ("evil.example/x", "//evil.example/x")
    // fail CLOSED through the same host/path split instead of
    // bypassing both gates with empty extractions.
    val after = regexp_replace(trim(url),
      "^([A-Za-z][A-Za-z0-9+.-]*:)?//", "")
    val host = lower(regexp_extract(after, "^([^/?#]*)", 1))
    // userinfo ("user:pass@host") and a trailing-dot FQDN ("host.")
    // are the classic blocklist bypass spellings — strip both so they
    // fail CLOSED through the same suffix match.
    val hostNoUser = regexp_replace(host, "^[^/?#]*@", "")
    val hostNoPort = regexp_replace(
      regexp_replace(hostNoUser, ":[0-9]+$", ""), "\\.$", "")
    val dArr = array(domains.map(d => lit(d.toLowerCase)): _*)
    val domainHit = exists(dArr, d =>
      hostNoPort === d || endswith(hostNoPort, concat(lit("."), d)))
    val rest = lower(regexp_extract(after, "^[^/?#]*(.*)$", 1))
    val wArr = array(pathWords.map(w => lit(w.toLowerCase)): _*)
    val wordHit = exists(wArr, w => contains(rest, w))
    domainHit || wordHit
  }

  /**
   * MinHash signatures: k minimums of independent hash functions over the
   * shingle set. Hash family = xxhash64 salted by function index (64-bit,
   * deterministic). One shuffle: groupBy(doc_id) with k min-aggregates.
   */
  def minHashSignatures(sh: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Modulus and affine coefficients of the parity min-hash family:
    * `mh_i(s) = (a_i * h(s) + b_i) mod M` over the 31-bit prime M,
    * where `h` is ONE md5-prefix per shingle reduced mod M — the
    * classic universal-hash minwise family, one crypto hash per
    * shingle regardless of k, every intermediate < 2^62 so an
    * external SQL engine reproduces it with plain BIGINT math. The
    * coefficients themselves are md5-derived per function index:
    * coefficients LINEAR in i (a seeded LCG, say) make consecutive
    * functions correlated — one shingle whose a_i·h lands small stays
    * the minimum across a whole arithmetic run of functions, which
    * collapses the family's effective independence. */
  val ParityMod = 2147483647L // 2^31 - 1, prime
  private def md5Prefix(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
  private[analytics] def parityA(i: Int): Long = md5Prefix(s"a:$i") % (ParityMod - 1) + 1
  private[analytics] def parityB(i: Int): Long = md5Prefix(s"b:$i") % ParityMod

  /**
   * Bloom-filter membership dedup — the Dolma deduper's primitive (a
   * paragraph-content Bloom filter shared across the whole corpus
   * build): the reference keys fold into an m-bit array, candidates
   * probe all k positions and flag iff every one is set. One-sided
   * error — a true member ALWAYS flags; false positives bounded by
   * (1 - e^(-kn/m))^k. Distinct from [[graft.analytics.Decontaminate]]
   * (broadcast of a benchmark-sized gram set): the bit array stays
   * ≤ m rows no matter how large the reference corpus grows — the
   * shape for cross-shard dedup where BOTH sides are petabyte-scale.
   *
   * Representation: the distributed bit array IS the distinct table of
   * set positions (int rows), joinable and unionable across shards;
   * hash family = the md5-parity affine maps, so a SQL oracle replays
   * the array bit-exactly.
   */
  def bloomBits(keys: DataFrame, keyCol: Column, mBits: Long, k: Int): DataFrame = {
    require(mBits > 0 && k > 0)
    val h = conv(substring(md5(keyCol.cast("binary")), 1, 8), 16, 10)
      .cast("long") % ParityMod
    val positions = (0 until k).map(i =>
      (lit(parityA(i)) * h + parityB(i)) % ParityMod % mBits)
    keys.select(explode(array(positions: _*)).as("pos")).distinct()
  }

  /**
   * Probe candidates against [[bloomBits]]: per (id, key) row adds
   * `possibly_present` (all k positions set). The probe is an
   * int-keyed join against the ≤m-row bit table plus one
   * groupBy(id, key) — both map-side-combining hash shuffles; nothing
   * corpus-sized broadcasts.
   *
   * Multiplicity-proof: the bit table is distinct'd before the join
   * (a union of shard [[bloomBits]] outputs may carry duplicate pos
   * rows) and membership compares distinct SET positions against
   * distinct PROBED positions, so neither duplicate bit rows nor
   * duplicate (id, key) candidate rows can inflate a count past k and
   * flip a true member to absent — the one-sided-error guarantee
   * holds for any input multiplicity. (countDistinct, not === k: the
   * k affine maps may collide mod mBits for a given key.)
   */
  def bloomProbe(candidates: DataFrame, idCol: Column, keyCol: Column,
      bits: DataFrame, mBits: Long, k: Int): DataFrame = {
    val h = conv(substring(md5(keyCol.cast("binary")), 1, 8), 16, 10)
      .cast("long") % ParityMod
    val positions = (0 until k).map(i =>
      (lit(parityA(i)) * h + parityB(i)) % ParityMod % mBits)
    candidates
      .select(idCol.as("id"), keyCol.as("key"),
        explode(array(positions: _*)).as("pos"))
      .join(bits.select(col("pos")).distinct().withColumn("__set", lit(1)),
        Seq("pos"), "left")
      .groupBy("id", "key")
      .agg((countDistinct(when(col("__set").isNotNull, col("pos"))) ===
        countDistinct(col("pos"))).as("possibly_present"))
  }

  /** Fixed-width token paragraphs — the Dolma deduper's unit: the
    * lowercased whitespace tokens cut into `width`-token slices,
    * distinct (doc_id, para) rows. Documents with no tokens produce
    * no paragraphs. */
  def tokenParagraphs(df: DataFrame, idCol: Column, textCol: Column,
      width: Int): DataFrame = {
    require(width > 0)
    df.select(idCol.as("doc_id"), TextAnalysis.tokens(textCol).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((size(col("__t")) + (width - 1)) / width) - 1),
        i => concat_ws(" ", slice(col("__t"), i * width + 1, lit(width))))).as("para"))
      .distinct()
  }

  /** [[minHashSignatures]] with the engine-parity hash family — the
    * md5-prefix device (`Sampling.hashBucket`) through k affine maps —
    * so an external SQL engine replays the signatures (and therefore
    * the banded candidate set) bit-exactly. Use where a cross-engine
    * oracle must certify the LSH stage itself. */
  def minHashSignaturesParity(sh: DataFrame, k: Int): DataFrame = {
    val h = conv(substring(md5(col("shingle").cast("binary")), 1, 8), 16, 10)
      .cast("long") % ParityMod
    val aggs = (0 until k).map { i =>
      min((lit(parityA(i)) * h + parityB(i)) % ParityMod).as(s"mh_$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Hot-bucket cap shared by every banded candidate join: drop band
   * buckets holding more than `maxBucket` members before the self-join.
   * A candidate join is quadratic PER BUCKET — one boilerplate-heavy
   * bucket (empty docs, templated pages, zero vectors) at 100 TB would
   * otherwise self-join a million-row bucket into 10^12 candidate pairs.
   * The same skew rule as [[ngramJaccardFromShingles]]'s `maxDf`: a
   * bucket that large is stop-content, not near-duplicate signal (its
   * pairs would be rejected by the exact verify anyway — or ARE mass
   * duplicates, which exact dedup already catches far cheaper). The agg
   * shuffles on the same keys as the candidate join itself, so the
   * exchange is reused, not added.
   */
  private[analytics] def capBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val ok = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") <= maxBucket)
      .drop("__bsz")
    banded.join(ok, keys)
  }

  /**
   * LSH banding: split the k-row signature into `bands` bands of k/bands
   * rows; docs sharing any band hash become candidates. Probability a
   * pair with Jaccard s becomes a candidate: 1-(1-s^r)^b. Buckets larger
   * than `maxBucket` are dropped before the self-join ([[capBuckets]]).
   */
  def lshCandidates(signatures: DataFrame, k: Int, bands: Int,
      maxBucket: Int = 1000): DataFrame =
    candidatesFromBanded(bandTable(signatures, k, bands), maxBucket)

  /** The banded form of a signature table — `(doc_id, band_id,
    * band_hash)`, one row per (doc, band), bucket key = xxhash64 of the
    * band's r signature rows. Grouping is equivalent to keying on the
    * r-tuple itself (what the DuckDB oracles replay as a string-joined
    * band key), spelled as one 64-bit hash so the shuffle key is
    * fixed-width at any r. */
  private[analytics] def bandTable(signatures: DataFrame, k: Int,
      bands: Int): DataFrame = {
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"mh_$i"))
      struct(lit(b).as("band_id"), xxhash64(cols: _*).as("band_hash"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** Candidate pairs from an already-banded (doc_id, band_id,
    * band_hash) table: cap hot buckets, self-join within buckets.
    * The banded table is consumed three times (cap aggregate + both
    * self-join sides) and deliberately NOT pinned here: the production
    * chains above it are in-row kernels that re-evaluate at scan speed
    * inside whole-stage codegen, and an eager materialization barrier
    * measured 2-5x SLOWER on dd_minhash_lsh / pipe_fineweb_fuzzy.
    * Callers whose upstream chain is genuinely expensive pin it
    * themselves ([[incrementalNearDups]] pins its parity band tables). */
  private def candidatesFromBanded(raw: DataFrame, maxBucket: Int): DataFrame = {
    val banded = capBuckets(raw, Seq("band_id", "band_hash"), maxBucket)
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard for given pairs, via each doc's shingle set. Sets
    * are built ONLY for docs that appear in some candidate pair (a
    * semi-join cut before the collect_set): candidates are a vanishing
    * fraction of a deduped corpus, so the verification aggregate scales
    * with |candidates|, not |corpus|. Values are unchanged — the cut
    * only drops sets no pair ever reads. */
  def verifyJaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // Deliberately NOT pinned although both the set_a and set_b joins
    // consume it: this is a single-action subtree, the duplicate set
    // aggregates run as CONCURRENT stages inside that one action (wall =
    // max, not sum), and an eager checkpoint here serializes a barrier in
    // front of the final join (measured: dd_minhash_lsh 1.2 s -> 3.3 s
    // with the pin). Pins pay across separate actions, not inside one.
    val sets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set("shingle").as("sset"))
    pairs
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sset", "set_a"), "doc_a")
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sset", "set_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))).cast("double")).as("jaccard"))
  }

  /** Per-doc MinHash signatures computed IN-ROW from the text: the
    * [[graft.functions.MinhashSignature]] kernel produces the k minima
    * of `xxhash64(i, shingle)` inside one projection — bit-identical
    * values to [[minHashSignatures]] over the exploded set, without the
    * corpus-wide (doc × shingle) explode + groupBy shuffle the exploded
    * spelling pays. Docs with no shingles are absent, as before. */
  def minHashSignaturesFromText(df: DataFrame, idCol: Column, textCol: Column,
      shingleN: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(idCol.as("doc_id"),
        call_function("minhash_signature",
          shingles(textCol, shingleN), lit(k)).as("__sig"))
      .where(col("__sig").isNotNull)
      .select(col("doc_id") +: (0 until k).map(i =>
        col("__sig").getItem(i).as(s"mh_$i")): _*)
  }

  /** MinHash+LSH near-dup pipeline: shingle -> sign -> band -> verify.
    * Signature AND banding run inside ONE kernel evaluation per
    * document ([[graft.functions.MinhashBands]] — buckets identical to
    * the column spelling), consumed by a single explode: no signature
    * shuffle and no per-column kernel re-evaluation (project collapse
    * would re-run a separate signature kernel once per mh column). The
    * exploded shingle set is built only for candidate verification. */
  def minHashNearDups(df: DataFrame, idCol: Column, textCol: Column,
      shingleN: Int = 3, k: Int = 16, bands: Int = 8, threshold: Double = 0.2): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val banded = df
      .select(idCol.as("doc_id"),
        explode(call_function("minhash_bands",
          split(trim(lower(textCol)), "\\s+"),
          lit(shingleN), lit(k), lit(bands))).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
    val cands = candidatesFromBanded(banded, maxBucket = 1000)
    verifyJaccard(cands, shingled(df, idCol, textCol, shingleN))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash+LSH over a pre-shingled (doc_id, shingle) set — lets callers
    * share one shingling pass across several dedup methods. */
  def minHashNearDupsFromShingles(sh: DataFrame,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    // Pin the signature table: the banded-candidate machinery consumes it
    // three times (cap aggregate + both self-join sides) with different
    // partial-agg subtrees, so the groupBy(doc)+k-min aggregate over the
    // exploded shingle set would otherwise run once per consumer. One row
    // of k longs per doc — the operator's own persistable artifact.
    val cands = lshCandidates(
      minHashSignatures(sh, k).pinned(), k, bands)
    verifyJaccard(cands, sh).where(col("jaccard") >= threshold)
  }

  /**
   * Incremental near-dup dedup — the production shape for a
   * continuously-crawled corpus: an arriving BATCH probes the standing
   * corpus band index without re-pairing (or even re-reading) the
   * corpus against itself. Cost scales with |batch|, not |corpus|:
   * batch-vs-corpus candidates come from one equi-join of the batch's
   * band table against the (persisted, capped) corpus index; batch-vs-
   * batch candidates from the usual capped self-join of the batch
   * alone. Corpus-vs-corpus pairs are never formed — that run already
   * happened when those docs were themselves the batch.
   *
   * Verdict per batch doc, by precedence: `dup_corpus` (Jaccard ≥
   * threshold with some corpus doc; `dup_of` = the smallest matching
   * corpus id), else `dup_batch` (matches an EARLIER batch doc;
   * `dup_of` = the smallest matching smaller id — one-hop semantics:
   * the earliest member of an all-new duplicate group survives as
   * `new`), else `new`. Batch and corpus id spaces must be disjoint.
   *
   * Hot buckets: the standing index drops buckets holding more than
   * `maxBucket` CORPUS members (the index's own skew rule — probes
   * against stop-content buckets would be quadratic and rejected by
   * verification anyway); the batch self-join caps by BATCH counts,
   * exactly as the from-scratch pipeline does.
   *
   * Signatures arrive precomputed (`(doc_id, mh_0..mh_{k-1})`) so the
   * caller picks the hash family — [[minHashSignaturesParityFromText]]
   * for oracle replay, the in-row xxhash64 kernel
   * ([[minHashSignaturesFromText]], unpacked) in production — and so
   * the corpus side can be a table persisted by an earlier run, which
   * is the point of the operator. The doc tables (`(doc_id, text)`)
   * are touched ONLY to re-shingle candidate docs for exact-Jaccard
   * verification — an in-row projection behind a semi-join on the
   * candidate ids, so the corpus text scan prunes to batch-scale and
   * no corpus-wide shingle explode ever runs. Both Jaccard legs
   * verify in ONE pass (pairs carry a leg tag; the two per-doc minima
   * fold in a single conditional aggregate), so the candidate DAG is
   * evaluated once.
   */
  def incrementalNearDups(corpusSig: DataFrame, batchSig: DataFrame,
      corpusDocs: DataFrame, batchDocs: DataFrame,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    // Materialize both band tables once: each feeds its cap aggregate
    // AND a join probe, and the partial-agg subtree under the exchange
    // differs between the two consumers, so Spark cannot reuse the
    // exchange — without this the full signature chain is computed
    // twice (corpus) / three times (batch). The band index is the
    // operator's own persistable artifact (the stream twin reads it
    // from parquet state); in the from-scratch spelling this pins it
    // for the run instead. The two pins are independent signature
    // pipelines, so they materialize overlapped.
    val (corpusBands, batchBands) = Overlap.both(
      bandTable(corpusSig, k, bands).pinned(),
      bandTable(batchSig, k, bands).pinned())
    judgeAgainstIndex(
      capBuckets(corpusBands, Seq("band_id", "band_hash"), maxBucket),
      batchBands, corpusDocs, batchDocs, shingleN, threshold, maxBucket, _.pinned())
  }

  /** The judgment core shared by [[incrementalNearDups]] and
    * [[incrementalNearDupsStream]]: probe an already-capped corpus
    * band index with a batch band table, verify candidates by exact
    * Jaccard over candidate-scoped in-row re-shingling, and emit one
    * verdict row per batch doc. `pin` materializes its two intermediates
    * — a trigger's scope in the stream, so they are freed with it. */
  private[analytics] def judgeAgainstIndex(corpusIdx: DataFrame,
      batchBands: DataFrame, corpusDocs: DataFrame, batchDocs: DataFrame,
      shingleN: Int, threshold: Double, maxBucket: Int,
      pin: DataFrame => DataFrame): DataFrame = {
    val vsCorpus = batchBands.alias("b")
      .join(corpusIdx.alias("c"),
        col("b.band_id") === col("c.band_id") &&
          col("b.band_hash") === col("c.band_hash"))
      .select(col("b.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
      .withColumn("__leg", lit("c"))
    val vsBatch = candidatesFromBanded(batchBands, maxBucket)
      .withColumn("__leg", lit("b"))
    // Candidate pairs are batch-scale (a vanishing fraction of the
    // corpus) and feed BOTH the semi-join doc cut and the verify join;
    // materialize once so the signature/banding DAG runs once, not
    // per consumer.
    val pairs = pin(vsCorpus.unionByName(vsBatch))
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // Candidate-scale like pairs, and consumed twice (the set_a and
    // set_b joins) — materialize so the doc-table scans run once.
    val sets = pin(corpusDocs.select(col("doc_id"), col("text"))
      .unionByName(batchDocs.select(col("doc_id"), col("text")))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shingles(col("text"), shingleN)).as("sset")))
    val verified = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("set_b")), "doc_b")
      .where(size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
        size(array_union(col("set_a"), col("set_b"))).cast("double") >= threshold)
    // one conditional aggregate folds both verdict legs: the doc under
    // judgment is doc_a for corpus hits, doc_b (the LATER id) for
    // batch-internal hits; min() skips the other leg's nulls.
    val dups = verified.select(
        when(col("__leg") === "c", col("doc_a")).otherwise(col("doc_b")).as("doc_id"),
        when(col("__leg") === "c", col("doc_b")).as("__c_other"),
        when(col("__leg") === "b", col("doc_a")).as("__b_other"))
      .groupBy("doc_id")
      .agg(min("__c_other").as("__dup_corpus"), min("__b_other").as("__dup_batch"))
    batchDocs.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__dup_corpus").isNotNull, lit("dup_corpus"))
          .when(col("__dup_batch").isNotNull, lit("dup_batch"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("__dup_corpus"), col("__dup_batch")).as("dup_of"))
  }

  /** Parity MinHash signatures straight from text: the same
    * md5-affine family as [[minHashSignaturesParity]] — bit-identical
    * values — without the [[shingled]] distinct. Duplicate shingles
    * cannot change a minimum, so the explode feeds the min-aggregate
    * directly: the explode never crosses the wire (it stays inside
    * the scan partition) and partial aggregation collapses each
    * partition to one row per doc before the exchange, so the shuffle
    * carries |docs| × k longs — NOT the doc × shingle table the
    * distinct-first spelling pays, and each shingle is md5-hashed
    * exactly once (an in-row `array_min(transform(...))` spelling
    * k-plicates the hash array under projection collapse and runs
    * the lambdas interpreted — measured 5× slower than this).
    * Docs with no shingles are absent, as in the exploded spelling. */
  def minHashSignaturesParityFromText(df: DataFrame, idCol: Column,
      textCol: Column, shingleN: Int, k: Int): DataFrame =
    minHashSignaturesParity(
      df.select(idCol.as("doc_id"),
        explode(shingles(textCol, shingleN)).as("shingle")), k)

  /** Seed the standing state of [[incrementalNearDupsStream]] from an
    * initial corpus: its band index and doc texts land as the `batch=-1`
    * slice of the two append-only state tables. */
  def initIncrementalState(corpusDocs: DataFrame, stateDir: String,
      sign: DataFrame => DataFrame, k: Int, bands: Int): Unit =
    Overlap.both(
      bandTable(sign(corpusDocs), k, bands)
        .write.mode("overwrite").parquet(s"$stateDir/bands/batch=-1"),
      corpusDocs.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$stateDir/docs/batch=-1"))

  /**
   * Continuous incremental near-dup dedup — [[incrementalNearDups]] as
   * a Structured Streaming query whose standing index GROWS: each
   * micro-batch probes the index, and the docs it judges `new` join it,
   * so a later batch's near-copy of an earlier batch's accepted doc is
   * `dup_corpus` OF that earlier doc (re-running the batch operator per
   * arrival would call it `new` — the growing state is the semantics).
   *
   * State is two append-only parquet tables under `stateDir`
   * (`bands` = the band index, `docs` = accepted texts for candidate
   * re-shingling), partitioned by the micro-batch id that admitted each
   * row (the initial corpus is `batch=-1`, seeded by
   * [[initIncrementalState]]). Every write in a micro-batch lands in
   * that batch's own partition with overwrite mode and every state read
   * filters to `batch < current`, so a replayed micro-batch sees
   * exactly the pre-batch state and overwrites only its own output —
   * the batch-id-versioned-table idempotence rule the other streaming
   * twins use.
   *
   * Scale shape per batch: the index is never aggregated whole — the
   * hot-bucket cap counts members only in buckets the batch actually
   * probes (a semi-join cut; the cap decision is identical because
   * un-probed buckets produce no candidates), so per-batch work scales
   * with |batch|, not |index|. Verdict rows land in `outDir/batch=N`.
   */
  def incrementalNearDupsStream(batches: DataFrame, stateDir: String,
      outDir: String, ckptDir: String, sign: DataFrame => DataFrame,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000): org.apache.spark.sql.streaming.StreamingQuery =
    Pins.eachBatch(batches, ckptDir) { (scope, batch, batchId) =>
      val batchDocs = scope.pin(batch.select(col("doc_id"), col("text")))
      val (verdicts0, batchBands) = incrementalBatchStep(scope, stateDir,
        batchDocs, batchId, sign, shingleN, k, bands, threshold, maxBucket)
      // Pin the verdicts: the judge DAG evaluates ONCE, and the output
      // write, the accepted-id cut and both state writes all read the pin.
      val verdicts = scope.pin(verdicts0)
      val accepted = verdicts.where(col("verdict") === "new").select("doc_id")
      Overlap.both(
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId"),
        growIncrementalState(stateDir, batchId, batchDocs, batchBands, accepted))
    }

  /** One micro-batch of the growing-index dedup: judge `batchDocs`
    * (a pinned `(doc_id, text)` table) against the standing state as
    * of `batchId`. Returns (verdict rows, the batch's band table —
    * needed by [[growIncrementalState]]); the band table is pinned in
    * `scope`, which frees it. Shared by [[incrementalNearDupsStream]]
    * and the composed crawl pipeline ([[CleanPipeline.crawlStream]]),
    * which wraps the verdicts in its own stage ladder. */
  private[analytics] def incrementalBatchStep(scope: Pins.Scope,
      stateDir: String, batchDocs: DataFrame, batchId: Long,
      sign: DataFrame => DataFrame, shingleN: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int): (DataFrame, DataFrame) = {
    val s = batchDocs.sparkSession
    val priorBands = s.read.parquet(s"$stateDir/bands")
      .where(col("batch") < batchId).drop("batch")
    val priorDocs = s.read.parquet(s"$stateDir/docs")
      .where(col("batch") < batchId).drop("batch")
    val batchBands = scope.pin(bandTable(sign(batchDocs), k, bands))
    // probe-scoped cap: count members only in buckets this batch
    // touches — identical verdicts (un-probed buckets yield no
    // candidates), batch-scale work against an index of any size.
    val probed = priorBands.join(
      batchBands.select("band_id", "band_hash").distinct(),
      Seq("band_id", "band_hash"), "left_semi")
    val corpusIdx = capBuckets(probed, Seq("band_id", "band_hash"), maxBucket)
    (judgeAgainstIndex(corpusIdx, batchBands, priorDocs, batchDocs,
      shingleN, threshold, maxBucket, scope.pin), batchBands)
  }

  /** Admit `acceptedIds` into the standing state as `batch=batchId`
    * partitions (overwrite — idempotent on micro-batch replay). The two
    * writes are independent jobs over pinned inputs; they run overlapped
    * so a micro-batch pays the per-job driver latency once, not twice. */
  private[analytics] def growIncrementalState(stateDir: String,
      batchId: Long, batchDocs: DataFrame, batchBands: DataFrame,
      acceptedIds: DataFrame): Unit =
    Overlap.both(
      batchDocs.join(acceptedIds, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$stateDir/docs/batch=$batchId"),
      batchBands.join(acceptedIds, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$stateDir/bands/batch=$batchId"))

  /**
   * Exact n-gram Jaccard all-pairs above a threshold, via inverted index:
   * self-join on shingle -> per-pair intersection counts -> sizes.
   * `maxDf` drops shingles present in more than that many docs (stop-
   * shingle skew cap — at 100 TB a hot shingle would otherwise create a
   * quadratic bucket).
   */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
      n: Int, threshold: Double, maxDf: Int = 1000): DataFrame =
    ngramJaccardFromShingles(shingled(df, idCol, textCol, n), threshold, maxDf)

  /**
   * Exact n-gram CONTAINMENT all-pairs (Broder's asymmetric measure):
   * `C(A→B) = |A∩B| / |A|`, both directions per pair, kept where the
   * larger direction clears `threshold`. The detector symmetric
   * Jaccard structurally misses: a document wrapped in boilerplate
   * (header/footer-padded scrape, quoted-in-full post) has containment
   * ≈ 1 of the original in the wrapper while Jaccard dilutes toward
   * |A|/|B|. Same inverted-index shape and stop-shingle `maxDf` cap as
   * [[ngramJaccardPairs]] — the measure changes, the scale plan
   * doesn't; sizes and intersections both live in the capped shingle
   * space so the ratio is self-consistent at any scale.
   */
  def ngramContainmentPairs(df: DataFrame, idCol: Column, textCol: Column,
      n: Int, threshold: Double, maxDf: Int = 1000): DataFrame =
    pairIntersections(shingled(df, idCol, textCol, n), maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("sz_a").cast("double")).as("c_ab"),
        (col("inter").cast("double") / col("sz_b").cast("double")).as("c_ba"))
      .where(greatest(col("c_ab"), col("c_ba")) >= threshold)

  /** Shared exact inverted-index scaffolding of the n-gram similarity
    * measures (Jaccard, containment): maxDf stop-shingle cap, per-doc
    * sizes in the CAPPED shingle space, per-pair intersection counts —
    * one spelling so the measures can never disagree on the capped
    * space. Returns `(doc_a, doc_b, inter, sz_a, sz_b)`. */
  private def pairIntersections(sh: DataFrame, maxDf: Int): DataFrame = {
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df_cnt"))
      .where(col("df_cnt") <= maxDf)
    // Pin the capped shingle table: it feeds the size aggregate and BOTH
    // pair-join sides, and the exchange shapes differ across consumers, so
    // without the pin the shingling+cap chain (two passes over the corpus)
    // re-evaluates per consumer. Candidate-adjacent scale — the same
    // persistable-artifact rule as the band tables in incrementalNearDups.
    val pruned = sh.join(rare, "shingle").select("doc_id", "shingle")
      .pinned()
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    pruned.alias("a")
      .join(pruned.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
  }

  /** Exact n-gram Jaccard over a pre-shingled (doc_id, shingle) set.
    * Jaccard is computed over the capped shingle space (sizes AND
    * intersections) so the semantics are self-consistent at any
    * scale — the [[pairIntersections]] scaffolding shared with the
    * containment measure. */
  def ngramJaccardFromShingles(sh: DataFrame, threshold: Double, maxDf: Int = 1000): DataFrame =
    pairIntersections(sh, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /**
   * Connected components over a near-dup pair list — turns pairwise
   * matches into cluster ids so each duplicate group keeps exactly one
   * canonical document (min doc_id in the component).
   *
   * Algorithm: min-label propagation with pointer jumping. Every vertex
   * starts labeled with its own id; each round, a vertex adopts the
   * minimum label among itself and its neighbors (one join against the
   * cached edge list), then adopts its label's OWN label (a self-join of
   * the label table — labels only ever shrink, so `lbl`'s row always
   * holds an equal-or-smaller label). The jump halves chain depth each
   * round, so convergence is O(log diameter) instead of O(diameter) —
   * on a pathological chain of 1M near-dups that is ~20 rounds instead
   * of 1M, and each round is a fixed number of shuffles of the label
   * table (which scales with |E|, not the corpus). `localCheckpoint`
   * cuts the growing lineage so round N's plan does not replay rounds
   * 1..N-1 (at 100 TB, checkpointing per round is what keeps task
   * graphs bounded — the same reason GraphX/GraphFrames checkpoint
   * their Pregel loops).
   *
   * The convergence probe is a 1-row aggregate per round (no data
   * collect). Returns (doc_id, cluster_id) for every vertex; singletons
   * cluster to themselves.
   */
  /** Edge-count cutoff below which the component labeling runs as a
    * driver-side union-find instead of the distributed loop. The edge
    * list is already the DISTINCT near-dup pair set — a tiny fraction
    * of any corpus — and under this bound it is control-plane-sized
    * state (≤ ~16 MB), where one union-find pass beats paying the
    * multi-round shuffle loop's fixed costs. The same size-based plan
    * choice Spark itself makes at the broadcast-join threshold; the
    * distributed log-round loop remains the ≥threshold path. */
  val DriverUnionFindMaxEdges = 1000000L

  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
      maxIter: Int = 25,
      smallGraphMaxEdges: Long = DriverUnionFindMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    // Pin the pair list FIRST: `pairs` is typically the full LSH/verify
    // DAG, and the two union branches below would evaluate it once each
    // (and the loop re-read it per round). An eager localCheckpoint beats
    // persist() here — under AQE, independent consumers of a lazily-filled
    // InMemoryRelation race and recompute the upstream DAG.
    val p = pairs
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .pinned()
    val edges = p.union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct().pinned()
    val nEdges = edges.count()
    if (nEdges <= smallGraphMaxEdges) {
      // small-graph path: one pass of union-find with path compression,
      // then each component labels with its MIN member — identical
      // semantics to the converged min-label loop below.
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
      val labeled = nodes.toSeq.map(n => (n, find(n))).toDF("node", "lbl")
      val singletons = vertices.select(col("doc_id").cast("long").as("node"))
        .join(labeled.select("node"), Seq("node"), "left_anti")
        .withColumn("lbl", col("node"))
      return labeled.unionByName(singletons)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    }
    // Iterate ONLY over vertices that appear in some edge: dup clusters
    // are a small fraction of a corpus, so the loop's working set scales
    // with |E|, not |V|. Isolated vertices self-label in one final union.
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val cand = labels.join(edges, labels("node") === edges("a"))
        .groupBy(col("b").as("nbr")).agg(min("lbl").as("nlbl"))
      // checkpointed: referenced twice below (as itself and as jmap) —
      // without it the neighbor-min join recomputes once per reference
      val stepped = labels.join(cand, labels("node") === cand("nbr"), "left")
        .select(col("node"), col("lbl").as("__prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      // pointer jump: adopt the current label of your label
      val jmap = stepped.select(col("node").as("__jn"), col("lbl").as("__jl"))
      val next = stepped.join(jmap, stepped("lbl") === col("__jn"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("__jl"), col("lbl"))).as("lbl"),
          (least(col("lbl"), coalesce(col("__jl"), col("lbl"))) < col("__prev")).as("__chg"))
        .localCheckpoint()
      changed = next.where(col("__chg")).count()
      labels = next.drop("__chg")
      iter += 1
    }
    val singletons = vertices.select(col("doc_id").cast("long").as("node"))
      .join(labels.select("node"), Seq("node"), "left_anti")
      .withColumn("lbl", col("node"))
    labels.unionByName(singletons)
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /**
   * C4-style line-level dedup: drop every line whose normalized form
   * (trimmed, lowercased) appears in more than `maxDocs` DISTINCT
   * documents — the boilerplate-removal step of C4/RefinedWeb-class
   * pipelines (navigation chrome, cookie banners, "subscribe" footers
   * repeat across a crawl; prose does not). Documents survive with
   * their remaining lines in original order; a document whose every
   * line is boilerplate is dropped entirely.
   *
   * Scale shape: one explode + one aggregate on the normalized line
   * (partial aggregation absorbs hot boilerplate lines map-side), one
   * join back (AQE skew-join splits the hot keys), and one groupBy(doc)
   * to reassemble — order restored from the exploded position, so no
   * window over the corpus. Never all-pairs, never a driver collect.
   */
  def dedupLines(df: DataFrame, idCol: Column, textCol: Column,
      maxDocs: Int): DataFrame = {
    val lines = df.select(idCol.as("doc_id"),
        posexplode(split(textCol, "\n")).as(Seq("pos", "line")))
      .withColumn("norm", trim(lower(col("line"))))
    // blank/whitespace-only lines all normalize to "" and would cross the
    // frequency bar in any real corpus — they are intra-document structure
    // (paragraph breaks), not boilerplate, so they never enter the set
    val freq = lines.where(length(col("norm")) > 0)
      .groupBy("norm")
      .agg(countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") > maxDocs)
      .select(col("norm"), lit(true).as("__boiler"))
    lines.join(freq, Seq("norm"), "left")
      .where(col("__boiler").isNull)
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("text"))
  }

  /**
   * SimHash fingerprint (64-bit): weighted sign-sum of token hashes.
   * The bit votes and the sign-pack run inside the row
   * ([[graft.functions.SimhashFingerprint]] — values bit-identical to
   * the 64-conditional-sum groupBy spelling, pinned in the kernel
   * spec), so the corpus-wide token explode + shuffle disappears: one
   * narrow projection at any scale.
   */
  def simHash(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(idCol.as("doc_id"),
      call_function("simhash_fingerprint",
        split(trim(lower(textCol)), "\\s+")).as("simhash"))
  }

  /**
   * [[simHash]] with the engine-parity hash family: the 48-bit md5
   * token prefix supplies the per-token bits (one crypto hash per
   * token; bit i of the print = sign of the ±1 sum over bit i of the
   * token hashes, i < 48), so an external SQL engine replays the
   * prints bit-exactly — 48 conditional sums in one groupBy, the same
   * one-shuffle shape as [[simHash]]. Use where a cross-engine oracle
   * must certify the prints; the 64-bit xxhash64 variant stays the
   * production default (wider, cheaper per token).
   */
  def simHashParity(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = df.select(idCol.as("doc_id"),
      explode(split(trim(lower(textCol)), "\\s+")).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok").cast("binary")), 1, 12), 16, 10).cast("long"))
    val bitSums = (0 until 48).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$i")
    }
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 48).map { i =>
      when(col(s"b_$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), fp.as("simhash"))
  }

  /**
   * SimHash near-dup candidates with Hamming distance <= maxDist, banded:
   * split the 64-bit print into `bands` chunks; pairs within maxDist
   * differing bits must agree on >= bands - maxDist chunks, so sharing
   * one 16-bit chunk (bands=4, maxDist<=3) is a complete candidate
   * filter. Exact popcount verification on candidates only. Chunk
   * buckets larger than `maxBucket` are dropped before the self-join
   * ([[capBuckets]] — completeness holds for every pair whose shared
   * chunks all survive the cap).
   */
  def simHashNearDups(fps: DataFrame, bands: Int = 4, maxDist: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    // Pigeonhole completeness: a pair within maxDist differing bits shares
    // at least one identical chunk only when maxDist <= bands - 1. Larger
    // maxDist would silently lose candidates.
    require(maxDist < bands,
      s"simHashNearDups requires maxDist < bands for complete banding (got maxDist=$maxDist, bands=$bands)")
    val width = 64 / bands
    val chunks = (0 until bands).map { b =>
      struct(lit(b).as("chunk_id"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND((1L << width) - 1).as("chunk"))
    }
    val banded = capBuckets(fps.select(col("doc_id"), col("simhash"),
      explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_id"), col("c.chunk")),
      Seq("chunk_id", "chunk"), maxBucket)
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }
}
