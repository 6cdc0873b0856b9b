package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different words entirely unrelated text here now ok"),
    (3L, "THE  quick   brown fox jumps over the lazy dog"), // exact after normalize
    (4L, "der hund ist nicht ein katze und das haus"))      // german-ish
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val got = Dedup.exact(docs, col("doc_id"), regexp_replace(col("text"), "\\s+", " "))
      .where(col("copies") > 1).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("canonical_id") === 0L)
    assert(got.head.getAs[Long]("copies") === 2L)
  }

  test("url canonicalization: case, default ports, fragments, tracking params, param order") {
    val pairs = Seq(
      // same page, six crawl spellings
      "http://www.Ex.COM/p/1?id=1&ref=rss&b=2&a=1#top",
      "HTTP://WWW.EX.COM:80/p/1?a=1&b=2&id=1&utm_campaign=x",
      "http://www.ex.com/p/1?utm_source=feed&b=2&id=1&a=1",
      "http://www.ex.com:80/p/1?a=1&b=2&id=1",
      "http://www.ex.com/p/1?a=1&b=2&id=1&gclid=zzz&fbclid=yyy",
      "http://www.ex.com/p/1?a=1&b=2&id=1#middle-of-page").zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
    val canon = pairs.select(Dedup.canonicalUrl(col("url")).as("c"))
      .distinct().as[String].collect()
    assert(canon.toSeq === Seq("http://www.ex.com/p/1?a=1&b=2&id=1"))
    // non-default port kept; https default port stripped; empty path -> "/"
    val more = Seq(
      (0L, "https://ex.com:443/x"), (1L, "https://ex.com:8443/x"),
      (2L, "http://ex.com"), (3L, "http://ex.com/#f"), (4L, "http://ex.com?ref=a"))
      .toDF("doc_id", "url")
      .select(col("doc_id"), Dedup.canonicalUrl(col("url")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(more(0L) === "https://ex.com/x")
    assert(more(1L) === "https://ex.com:8443/x")
    assert(more(2L) === "http://ex.com/")
    assert(more(3L) === "http://ex.com/")
    assert(more(4L) === "http://ex.com/")
    val dd = Dedup.urlDedup(pairs, col("doc_id"), col("url"))
    assert(dd.count() === 1L)
    assert(dd.select("doc_id", "copies").as[(Long, Long)].head() === ((0L, 6L)))
  }

  test("html extraction drops script/style/comments, keeps text, decodes entities") {
    val html = Seq((0L,
      "<html><head><style>p{x:1}</style>" +
      "<script>var s=\"<p>fake</p>\";</script></head>" +
      "<body><!-- c --><p>Tom &amp; Jerry&nbsp;&lt;3</p><div>Second block</div>" +
      "<ul><li>item one</li></ul></body></html>"))
      .toDF("doc_id", "html")
    val got = html.select(TextAnalysis.htmlToText(col("html")).as("t"))
      .as[String].head()
    // script string content (which itself contains markup) is gone
    assert(!got.contains("fake") && !got.contains("x:1") && !got.contains("c --"))
    assert(got.contains("Tom & Jerry <3"))
    // block closers become line breaks: three content lines
    assert(got.split("\n").toSeq === Seq("Tom & Jerry <3", "Second block", "item one"))
  }

  test("extracted text has no edge newline: a 19-word page counts 19 tokens") {
    val words = (1 to 19).map(i => s"w$i").mkString(" ")
    val got = Seq(s"<html><body><p>$words</p></body></html>").toDF("html")
      .select(TextAnalysis.htmlToText(col("html")).as("t"))
      .select(col("t"), TextAnalysis.tokenCount(col("t")),
        size(Dedup.shingles(col("t"), 3)))
      .as[(String, Int, Int)].head()
    // 19 < 20: the crawl quality gate (tokenCount < minTokens) rejects it
    assert(got === ((words, 19, 17)))
  }

  test("url blocklist: domain label boundary, subdomains, path keywords") {
    val urls = Seq(
      (0L, "https://evil.example/home"),          // exact domain
      (1L, "https://www.evil.example/x"),         // subdomain
      (2L, "https://notevil.example/x"),          // lookalike, NOT blocked
      (3L, "https://good.example/casino-night"),  // path keyword
      (4L, "HTTPS://EVIL.EXAMPLE:8443/up"),       // case + port
      (5L, "https://good.example/fine"),
      (6L, "evil.example/casino-bonus"),          // scheme-less fails CLOSED
      (7L, "//www.evil.example/x"),               // protocol-relative
      (8L, "good.example/fine"),                  // scheme-less clean
      (9L, "https://user:pw@evil.example/x"),     // userinfo bypass spelling
      (10L, "https://evil.example./x"),           // trailing-dot FQDN
      (11L, "https://x@good.example/fine"))       // userinfo on a clean host
      .toDF("doc_id", "url")
    val got = urls.select(col("doc_id"),
        Dedup.urlBlocked(col("url"), Seq("evil.example"), Seq("casino")).as("b"))
      .as[(Long, Boolean)].collect().toMap
    assert(got === Map(0L -> true, 1L -> true, 2L -> false,
      3L -> true, 4L -> true, 5L -> false,
      6L -> true, 7L -> true, 8L -> false,
      9L -> true, 10L -> true, 11L -> false))
  }

  test("url-dedup stage 0 composes ahead of the cleaning pipeline") {
    val docs = Seq(
      (10L, "http://a.com/p?x=1&utm_s=1", ("tok " * 40) + "the of and to in is"),
      (11L, "HTTP://A.COM:80/p?x=1", ("tok " * 40) + "the of and to in is"),
      (12L, "http://b.com/q", ("word " * 40) + "the of and to in is"))
      .toDF("doc_id", "url", "text")
    val out = CleanPipeline.cleanFromUrls(docs, col("doc_id"), col("text"),
      col("url"), CleanPipeline.Config(minTokens = 10, minStopwordRatio = 0.0))
    // 11 is a crawl-dup of 10 (dropped before text stages); 10 and 12 survive
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 12L))
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val pairs = Dedup.minHashNearDups(docs, col("doc_id"), col("text"),
      shingleN = 2, k = 16, bands = 8, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("band-bucket cap drops hot buckets but keeps ordinary near-dup pairs") {
    // 12 identical boilerplate docs form a hot bucket in EVERY band;
    // with maxBucket=10 they must produce zero candidates while the
    // ordinary planted pair (0,1) still surfaces.
    val boiler = (100L until 112L).map(i => (i, "lorem ipsum dolor sit amet boilerplate page"))
    val mixed = docs.unionByName(boiler.toDF("doc_id", "text"))
    val pairs = Dedup.lshCandidates(
      Dedup.minHashSignatures(Dedup.shingled(mixed, col("doc_id"), col("text"), 2), 16),
      k = 16, bands = 8, maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a >= 100L && b >= 100L })
    // uncapped control: the hot bucket does produce candidate pairs
    val uncapped = Dedup.lshCandidates(
      Dedup.minHashSignatures(Dedup.shingled(mixed, col("doc_id"), col("text"), 2), 16),
      k = 16, bands = 8, maxBucket = 1000)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.exists { case (a, b) => a >= 100L && b >= 100L })
  }

  test("in-row parity signatures are bit-identical to the exploded spelling") {
    val exploded = Dedup.minHashSignaturesParity(
      Dedup.shingled(docs, col("doc_id"), col("text"), 2), 8)
    val inRow = Dedup.minHashSignaturesParityFromText(
      docs, col("doc_id"), col("text"), 2, 8)
    assert(inRow.schema === exploded.schema)
    assert(inRow.exceptAll(exploded).isEmpty && exploded.exceptAll(inRow).isEmpty)
    // short doc with < n tokens is absent from both
    val tiny = Seq((9L, "one")).toDF("doc_id", "text")
    assert(Dedup.minHashSignaturesParityFromText(
      tiny, col("doc_id"), col("text"), 2, 4).count() === 0L)
  }

  test("incremental dedup: batch probes the corpus index; verdict precedence holds") {
    // corpus = the standing fixture; batch = a near-copy of corpus doc 0
    // (dup_corpus), a fresh doc plus its own near-copy (the earlier id
    // stays `new`, the later is dup_batch), and one genuinely new doc.
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),   // ~doc 0
      (101L, "zebras gallop across wide open savannah plains fast"), // new
      (102L, "zebras gallop across wide open savannah plains now"),  // ~101
      (103L, "totally unrelated quantum chromodynamics lattice results"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(
        Dedup.minHashSignaturesParityFromText(docs, col("doc_id"), col("text"), 2, 16),
        Dedup.minHashSignaturesParityFromText(batch, col("doc_id"), col("text"), 2, 16),
        docs, batch, shingleN = 2, k = 16, bands = 8, threshold = 0.3)
      .select("doc_id", "verdict", "dup_of")
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(100L) === (("dup_corpus", Some(0L))))
    assert(got(101L) === (("new", None)))
    assert(got(102L) === (("dup_batch", Some(101L))))
    assert(got(103L) === (("new", None)))
    // every batch doc gets exactly one verdict row
    assert(got.size === 4)
    // corpus-vs-corpus pairs are never formed: corpus docs 0 and 3 are
    // exact near-dups of each other, yet neither appears in the output
    assert(!got.contains(0L) && !got.contains(3L))
  }

  test("incremental dedup stream: the standing index grows across micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_incr_spec")
    val sign = (d: org.apache.spark.sql.DataFrame) =>
      Dedup.minHashSignaturesParityFromText(d, col("doc_id"), col("text"), 2, 16)
    Dedup.initIncrementalState(docs, s"$root/state", sign, 16, 8)
    // batch 0: one genuinely new doc; batch 1: a near-copy of it PLUS a
    // near-copy of corpus doc 0
    val b0 = Seq((200L, "zebras gallop across wide open savannah plains fast"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (300L, "zebras gallop across wide open savannah plains now"),
      (301L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val stream = StagedBatches.stage(Seq(b0, b1))()
    Dedup.incrementalNearDupsStream(stream, s"$root/state", s"$root/out",
      s"$root/ckpt", sign, shingleN = 2, k = 16, bands = 8, threshold = 0.3)
    val got = spark.read.parquet(s"$root/out")
      .select("batch", "doc_id", "verdict", "dup_of")
      .as[(Int, Long, String, Option[Long])].collect()
      .map(r => r._2 -> r).toMap
    // batch 0's doc was new and joined the index...
    assert(got(200L) === ((0, 200L, "new", None)))
    // ...so batch 1's near-copy is dup_CORPUS of the batch-0 id (the
    // per-arrival batch operator would have said `new`)
    assert(got(300L) === ((1, 300L, "dup_corpus", Some(200L))))
    // and the initial corpus still matches as before
    assert(got(301L) === ((1, 301L, "dup_corpus", Some(0L))))
    // state grew by exactly the accepted doc on each side
    assert(spark.read.parquet(s"$root/state/docs")
      .where(col("batch") >= 0).select("doc_id").as[Long].collect().toSet === Set(200L))
  }

  test("containment catches the boilerplate-wrapped copy Jaccard misses") {
    // doc 50 = doc 0's text wrapped in heavy boilerplate: the original
    // is ~fully contained (c_ab -> 1) while Jaccard dilutes to |A|/|B|
    val wrapped = docs.unionByName(Seq((50L,
      "alpha beta gamma delta epsilon zeta eta theta " +
      "the quick brown fox jumps over the lazy dog" +
      " iota kappa lambda mu nu xi omicron pi rho sigma"))
      .toDF("doc_id", "text"))
    val got = Dedup.ngramContainmentPairs(wrapped, col("doc_id"), col("text"),
        n = 2, threshold = 0.9)
      .select("doc_a", "doc_b", "c_ab", "c_ba")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // the original (8 bigrams) is fully contained in the wrapper
    assert(got.contains((0L, 50L)))
    val (cab, cba) = got((0L, 50L))
    assert(cab === 1.0)
    assert(cba < 0.5) // wrapper is NOT contained in the original
    // symmetric Jaccard at the same threshold misses the pair entirely
    val jac = Dedup.ngramJaccardPairs(wrapped, col("doc_id"), col("text"),
        n = 2, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((0L, 50L)))
  }

  test("crawl stream: gate ladder, index growth, blocked docs never admitted") {
    val root = java.nio.file.Files.createTempDirectory("graft_crawl_spec")
    val sign = (d: org.apache.spark.sql.DataFrame) =>
      Dedup.minHashSignaturesParityFromText(d, col("doc_id"), col("text"), 2, 16)
    Dedup.initIncrementalState(docs, s"$root/state", sign, 16, 8)
    def page(t: String) = s"<html><body><p>$t</p></body></html>"
    // batch 0: a new doc (admitted) and a BLOCKED near-copy of corpus
    // doc 2's text — blocked docs are neither judged nor admitted
    val b0 = Seq(
      (200L, "https://news.example/a", page("zebras gallop across wide open savannah plains fast")),
      (201L, "https://spam.evil.example/a", page("completely different words entirely unrelated text here now ok")))
      .toDF("doc_id", "url", "html")
    // batch 1: near-copy of the batch-0 ACCEPTED doc (dup_corpus of
    // 200), a low-quality page, and a near-copy of the text that
    // arrived blocked in batch 0 — still `new`, proving 201 never
    // entered the index
    val b1 = Seq(
      (300L, "https://news.example/b", page("zebras gallop across wide open savannah plains now")),
      (301L, "https://news.example/c", page("too short")),
      (302L, "https://news.example/d", page("completely different words entirely unrelated text here now yes")),
      (303L, "https://news.example/e", page("one below gate"))) // minTokens - 1 words
      .toDF("doc_id", "url", "html")
    val stream = StagedBatches.stage(Seq(b0, b1))()
    CleanPipeline.crawlStream(stream, s"$root/state", s"$root/out",
      s"$root/ckpt", sign, Seq("evil.example"), Seq("casino"),
      minTokens = 4, shingleN = 2, k = 16, bands = 8, threshold = 0.3)
    val got = spark.read.parquet(s"$root/out")
      .select("doc_id", "verdict", "dup_of")
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(200L) === (("new", None)))
    assert(got(201L) === (("blocked_url", None)))
    assert(got(300L) === (("dup_corpus", Some(200L))))
    assert(got(301L) === (("low_quality", None)))
    assert(got(303L) === (("low_quality", None)))
    // 302 matches corpus doc 2's words closely BUT doc 2 is IN the
    // initial corpus, so it's dup_corpus of 2 — while nothing matches
    // the blocked 201 (which never entered the index)
    assert(got(302L) === (("dup_corpus", Some(2L))))
    assert(got.size === 6)
  }

  test("ngram jaccard exact pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), n = 2, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash: identical docs identical prints; near-dups close in hamming") {
    val fps = Dedup.simHash(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0L), fps(1L)) < ham(fps(0L), fps(2L)))
    // bands=32 (2-bit chunks) keeps banding complete for maxDist up to 31;
    // the planted near-dup pair differs in well under 26 bits.
    val nd = Dedup.simHashNearDups(
      Dedup.simHash(docs, col("doc_id"), col("text")), bands = 32, maxDist = 25)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(nd.contains((0L, 1L)))
    assertThrows[IllegalArgumentException] {
      Dedup.simHashNearDups(Dedup.simHash(docs, col("doc_id"), col("text")), bands = 4, maxDist = 16)
    }
  }

  test("text analysis: tokens, langid, fingerprint invariance") {
    val t = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(t(0L) === 9)
    val langs = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(langs(0L) === "en")
    assert(langs(4L) === "de")
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) === fps(3L))   // whitespace/case-insensitive
    assert(fps(0L) !== fps(1L))   // content-sensitive
  }

  test("similarity: brute-force topk ranks the most-similar vector first") {
    val corpus = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.9, 0.1, 0.0)),
      (2L, Array(0.0, 1.0, 0.0)), (3L, Array(0.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = Similarity.bruteForceTopK(corpus, queries, 2)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("similarity: LSH topk recall vs brute force on clustered vectors") {
    val corpus = (0 until 50).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0) else Array.tabulate(8)(j => if (j % 2 == 0) 1.0 else -1.0)
      (i.toLong, base.zipWithIndex.map { case (x, j) => x + 0.01 * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val bf = Similarity.bruteForceTopK(corpus, queries, 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(corpus, queries, dim = 8, k = 3, nBits = 8, bands = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert((bf intersect lsh).size >= 4) // >= 2/3 recall on this easy layout
  }

  test("similarity: IVF topk recall vs brute force on clustered vectors") {
    val corpus = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0) else Array.tabulate(8)(j => if (j % 2 == 0) 1.0 else -1.0)
      (i.toLong, base.zipWithIndex.map { case (x, j) => x + 0.01 * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val bf = Similarity.bruteForceTopK(corpus, queries, 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, queries, k = 3, nLists = 4, nProbe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // two clean clusters: probing half the lists must find the true cluster
    assert((bf intersect ivf).size >= 4)
  }

  test("similarity: PQ codes round-trip and ADC topk recall on clustered vectors") {
    val corpus = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0) else Array.tabulate(8)(j => if (j % 2 == 0) 1.0 else -1.0)
      (i.toLong, base.zipWithIndex.map { case (x, j) => x + 0.01 * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val normed = Similarity.normalized(corpus, "embedding")
    val model = Similarity.pqTrain(normed, m = 4, k = 4)
    assert(model.m === 4 && model.k === 4 && model.subDim === 2)
    // every vector gets m in-range codes
    val codes = Similarity.pqEncode(normed, model)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.length === 60)
    assert(codes.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 4)))
    // two clean clusters: ADC over 4x4 codebooks must keep the true cluster
    val queries = normed.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val bf = Similarity.bruteForceTopK(normed, queries, 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(normed, queries, model, k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(pq.length === 6) // 2 queries x k=3, self excluded
    // ADC collapses same-code clustermates to equal scores, so exact-rank
    // agreement is not guaranteed — cluster membership is: every PQ hit
    // must share the query's cluster (even vec_ids with even queries).
    val pqParity = pq.forall { case (q, v) => (q % 2) == (v % 2) }
    assert(pqParity, s"PQ returned a cross-cluster hit: ${pq.toSeq}")
    assert(bf.forall { case (q, v) => (q % 2) == (v % 2) })
    // exact re-rank must recover the exact top-3 once the ADC shortlist
    // covers the query's cluster (30 members) — shortlist sizing is the
    // caller's recall/cost knob, not a property of one trainer's
    // codebook boundaries
    val rr = Similarity.pqTopK(normed, queries, model, k = 3, rerank = 30)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(rr === bf, s"re-ranked PQ diverged from brute force: $rr vs $bf")
  }

  test("similarity: IVFADC residual-PQ topk finds the true cluster; rerank recovers exact") {
    val corpus = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0) else Array.tabulate(8)(j => if (j % 2 == 0) 1.0 else -1.0)
      (i.toLong, base.zipWithIndex.map { case (x, j) => x + 0.01 * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val normed = Similarity.normalized(corpus, "embedding")
    val queries = normed.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val bf = Similarity.bruteForceTopK(normed, queries, 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(normed, queries, k = 3,
      nLists = 4, nProbe = 2, m = 4, pqK = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(ivfpq.length === 6)
    // every hit shares the query's cluster (even ids with even queries)
    assert(ivfpq.forall { case (q, v) => (q % 2) == (v % 2) },
      s"IVFADC returned a cross-cluster hit: ${ivfpq.toSeq}")
    // exact re-rank over a 20-candidate shortlist recovers the exact top-3
    val rr = Similarity.ivfPqTopK(normed, queries, k = 3,
      nLists = 4, nProbe = 2, m = 4, pqK = 4, rerank = 20)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(rr === bf, s"re-ranked IVFADC diverged from brute force: $rr vs $bf")
  }

  test("dedup weights: canonical carries the cluster's mass, members carry zero") {
    val comp = Seq((0L, 0L), (1L, 0L), (3L, 0L), (2L, 2L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = Sampling.dedupWeights(comp)
      .select("doc_id", "cluster_size", "keep", "repeat_weight")
      .as[(Long, Long, Boolean, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) === ((3L, true, 3L)))  // canonical of {0,1,3}
    assert(got(1L) === ((3L, false, 0L)))
    assert(got(3L) === ((3L, false, 0L)))
    assert(got(2L) === ((1L, true, 1L)))  // singleton keeps weight 1
    assert(got(5L) === ((1L, true, 1L)))
    // mass conservation: Σ repeat_weight == corpus size
    assert(got.values.map(_._3).sum === 5L)
  }

  test("connected components: chains merge, singletons self-label, min id wins") {
    val verts = (0L to 7L).toDF("doc_id")
    // chain 1-2-3-4 (diameter 3, forces multiple propagation rounds),
    // pair 5-6, singletons 0 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, verts)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // the distributed log-round loop (forced by a zero small-graph
    // cutoff) must agree with the driver union-find path exactly
    val loop = Dedup.connectedComponents(pairs, verts, smallGraphMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(loop === cc)
  }

  test("DSIR importance resampling: exact k picked, target domain scores higher") {
    val target = (0L until 10L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val raw = ((0L until 10L).map(i => (i, "alpha beta gamma delta epsilon zeta")) ++
      (10L until 30L).map(i => (i, s"uno dos tres cuatro cinco seis siete")) ++
      Seq((30L, ""))) // gram-less doc: scores 0, still eligible
      .toDF("doc_id", "text")
    val out = Sampling.importanceResample(raw, target, col("doc_id"), col("text"), k = 8)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out.count(_._5) === 8)
    assert(out.size === 31)
    val (inT, outT) = out.filter(_._2 > 0).partition(_._1 < 10L)
    // target-domain docs carry strictly higher LLR scores than off-domain
    assert(inT.map(_._3).min > outT.map(_._3).max, out)
    // deterministic: a re-run reproduces the identical selection
    val again = Sampling.importanceResample(raw, target, col("doc_id"), col("text"), k = 8)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(again === out)
  }

  test("sampling: split is exhaustive, deterministic, and ~weight-proportional") {
    val ids = (0L until 2000L).toDF("doc_id")
    val s1 = Sampling.split(ids, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byMap = s1.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byMap.values.sum === 2000L)
    assert(byMap("train") > 1400 && byMap("train") < 1800)
    // repartitioned re-run assigns identically (order independence)
    val s2 = Sampling.split(ids.repartition(13), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(s1.except(s2).count() === 0 && s2.except(s1).count() === 0)
  }

  test("sampling: stratified rates honored per stratum; rate 0 drops all") {
    val rows = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratifiedSample(rows, col("doc_id"), col("lang"),
      Map("a" -> 1.0, "b" -> 0.0), defaultRate = 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept.getOrElse("a", 0L) === 500L)
    assert(kept.getOrElse("b", 0L) === 0L)
  }

  test("sampling: temperature mixture keeps the rarest stratum whole, downsamples the rest") {
    val rows = ((0L until 900L).map(i => (i, "big")) ++ (900L until 1000L).map(i => (i, "small")))
      .toDF("doc_id", "lang")
    val kept = Sampling.temperatureMixture(rows, col("doc_id"), col("lang"))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("small") === 100L)                       // rate 1.0: keeps all
    // big: rate sqrt(100/900) = 1/3; hash-uniform so ~300 of 900
    assert(kept("big") > 200L && kept("big") < 400L)
  }

  test("sampling: repeat-factor upsampling emits floor/ceil copies with exact expectation") {
    val rows = ((0L until 800L).map(i => (i, "en")) ++ (800L until 1000L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val up = Sampling.upsampleRepeat(rows, col("doc_id"), col("lang"),
      Map("de" -> 2.5, "drop" -> 0.0))
    val byLang = up.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") === 800L)                       // default factor 1.0: pass-through
    // de x2.5: every row gives 2 or 3 copies; hash-uniform so ~500 total
    assert(byLang("de") >= 400L && byLang("de") <= 600L)
    val perDoc = up.where(col("lang") === "de").groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perDoc.values.forall(n => n == 2L || n == 3L))
    // copy column is a dense 0-based index within each doc
    val copies = up.where(col("doc_id") === perDoc.keys.head)
      .select("copy").as[Long].collect().sorted
    assert(copies === (0L until copies.length).toArray)
    // deterministic under repartitioning
    val again = Sampling.upsampleRepeat(rows.repartition(7), col("doc_id"), col("lang"),
      Map("de" -> 2.5, "drop" -> 0.0))
    assert(up.except(again).count() === 0 && again.except(up).count() === 0)
    // factor 0 drops the stratum entirely
    val zeroed = Sampling.upsampleRepeat(rows, col("doc_id"), col("lang"), Map("de" -> 0.0))
    assert(zeroed.where(col("lang") === "de").count() === 0)
  }

  test("perceptron training separates the planted class and converges") {
    // 20 docs: even ids share distinctive positive-class markers
    val train = (0L until 20L).map { i =>
      val base = s"common filler words shared by all docs number $i"
      if (i % 2 == 0) (i, s"$base premium quality signal", true)
      else (i, s"$base junky spammy noise", false)
    }.toDF("doc_id", "text", "label")
    val (wts, hist) = TextAnalysis.trainHashedPerceptron(
      train, col("doc_id"), col("text"), col("label"), buckets = 128, epochs = 4)
    val h = hist.orderBy("epoch")
      .as[(Int, Long, Long)].collect()
    // epoch 1 misclassifies every positive doc (all-zero weights predict 0)
    assert(h.head === ((1, 10L, h.head._3)))
    // error counts never increase and reach 0 on separable data
    assert(h.map(_._2).sliding(2).forall(p => p(1) <= p(0)))
    assert(h.last._2 === 0L)
    // the trained weights classify the training set perfectly with
    // binary (distinct-bucket) features
    val w = wts.as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    val feats = train.select(col("doc_id"), col("label"),
        explode(array_distinct(transform(
          split(trim(lower(col("text"))), "\\s+"),
          t => Sampling.hashBucket(t, 128)))).as("b"))
      .as[(Long, Boolean, Long)].collect()
    val preds = feats.groupBy(_._1).map { case (id, rows) =>
      (rows.head._2, rows.map(r => w(r._3)).sum > 0) }
    assert(preds.forall { case (label, pred) => label == pred })
  }

  test("hashed-linear classifier: margin is the exact weight-sum, order-independent") {
    val docs = Seq((1L, Some("alpha beta alpha gamma")), (2L, Some("beta")),
      (3L, Some("")), (4L, None: Option[String]))
      .toDF("doc_id", "text")
    val weights = (0L until 64L).map(b => (b, b % 5 - 2)).toDF("bucket", "weight")
    val got = TextAnalysis.hashedLinearScore(docs, col("doc_id"), col("text"),
        weights, buckets = 64, bias = 1L)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // independently re-derive each margin from the same hash + weights
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 8), 16) % 64
    }
    def margin(text: String): Long =
      1L + text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(t => bucket(t) % 5 - 2).sum
    for ((id, text) <- Seq(1L -> "alpha beta alpha gamma", 2L -> "beta", 3L -> "")) {
      val m = margin(text)
      assert(got(id) === ((m, m > 0)), s"doc $id")
    }
    // null text degenerates to the bias-only verdict, never disappears
    assert(got(4L) === ((1L, true)))
    // deterministic under repartitioning
    val again = TextAnalysis.hashedLinearScore(docs.repartition(5), col("doc_id"),
      col("text"), weights, buckets = 64, bias = 1L)
    assert(TextAnalysis.hashedLinearScore(docs, col("doc_id"), col("text"),
      weights, 64, 1L).except(again).count() === 0)
  }

  test("sampling: source share cap thins only over-represented sources") {
    // a: 70%, b: 20%, c: 10%; cap 30% -> a thins to ~3/7, b and c whole
    val rows = ((0L until 700L).map(i => (i, "a")) ++
      (700L until 900L).map(i => (i, "b")) ++ (900L until 1000L).map(i => (i, "c")))
      .toDF("doc_id", "source")
    val kept = Sampling.capSourceShare(rows, col("doc_id"), col("source"), cap = 0.30)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("b") === 200L && kept("c") === 100L)
    // a: rate 300/700, hash-uniform -> ~300 of 700
    assert(kept("a") > 230L && kept("a") < 370L)
    // deterministic under repartitioning
    val again = Sampling.capSourceShare(rows.repartition(11), col("doc_id"),
      col("source"), cap = 0.30)
    assert(Sampling.capSourceShare(rows, col("doc_id"), col("source"), 0.30)
      .except(again).count() === 0)
  }

  test("sketches: HLL vocab and approx percentiles certify their error bounds") {
    val docs = (0L until 1000L)
      .map(i => (i, s"w${i % 37} w${i % 101} common token", 50L + i % 400))
      .toDF("doc_id", "text", "n_chars")
    val r = Sketches.sketchContracts(docs, col("text"), col("n_chars")).collect()(0)
    // exact vocab: w0..w100 (the %37 names are a subset) + common + token
    assert(r.getLong(0) === 103L)
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4))
  }

  test("misra-gries: heavy tokens survive any partitioning; estimates lower-bound") {
    // zipf-ish: token w0 appears 500 times, w1 250, ... plus a long tail
    val rows = (0L until 2000L).flatMap { i =>
      val tok = if (i < 500) "w0" else if (i < 750) "w1"
        else if (i < 875) "w2" else s"tail${i}"
      Seq(Tuple1(s"$tok"))
    }.toDF("text")
    val r = Sketches.heavyHitterContract(rows.repartition(7), col("text"), k = 10)
      .collect()(0)
    assert(r.getAs[Long]("n_tokens") === 2000L)
    assert(r.getAs[Long]("n_heavy_exact") === 2L) // w0 (500), w1 (250); w2 = 125 < N/k = 200
    assert(r.getAs[Boolean]("cover_ok"))
    assert(r.getAs[Boolean]("bound_ok"))
  }

  test("misra-gries single partition: candidate estimates are exact lower bounds") {
    val toks = ((0 until 90).map(_ => "hot") ++ (0 until 10).map(i => s"cold$i"))
      .toDF("tok")
    val got = Sketches.heavyHitterCandidates(toks.coalesce(1), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // 'hot' dominates: survives with est >= 90 - 100/3
    assert(got.contains("hot") && got("hot") >= 90L - 34L && got("hot") <= 90L)
  }

  test("sampling: epoch shuffle is a deterministic permutation that varies by epoch") {
    val rows = (0L until 2000L).map(i => (i, s"d$i")).toDF("doc_id", "payload")
    val e1 = Sampling.epochShuffle(rows, col("doc_id"), 1)
    // a permutation: pos is exactly 0..n-1
    val pos = e1.select("pos").as[Long].collect().sorted
    assert(pos === (0L until 2000L).toArray)
    // deterministic under repartitioning
    val again = Sampling.epochShuffle(rows.repartition(13), col("doc_id"), 1)
    assert(e1.except(again).count() === 0 && again.except(e1).count() === 0)
    // a different epoch produces a different permutation
    val m1 = e1.select("doc_id", "pos").as[(Long, Long)].collect().toMap
    val m2 = Sampling.epochShuffle(rows, col("doc_id"), 2)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(m1 != m2)
  }

  test("sampling: per-group top-k keeps exactly k and is order-stable") {
    val rows = (0L until 100L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "g")
    val top = Sampling.topKPerGroup(rows, col("g"), col("doc_id"), 5)
    assert(top.count() === 20)
    val again = Sampling.topKPerGroup(rows.repartition(7), col("g"), col("doc_id"), 5)
    assert(top.select("g", "doc_id").except(again.select("g", "doc_id")).count() === 0)
  }

  test("clean pipeline: stages filter and dedup collapses planted clones") {
    val corpus = Seq(
      (0L, "the cat sat and the dog ran to a tree in the park of it " * 3), // en, long
      (1L, "the cat sat and the dog ran to a tree in the park of it " * 3), // exact dup of 0
      (2L, "der hund ist nicht ein katze und das haus von mir " * 3),       // german
      (3L, "the fox"),                                                      // too short
      (4L, "word " * 40))                                                   // no stopwords
      .toDF("doc_id", "text")
    val cfg = CleanPipeline.Config(minTokens = 10, maxTokens = 1000, minStopwordRatio = 0.1)
    val out = CleanPipeline.clean(corpus, col("doc_id"), col("text"), cfg)
      .select("doc_id", "copies").as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 2L))
    val f = CleanPipeline.funnel(corpus, col("doc_id"), col("text"), cfg)
      .as[(Long, Long, Long, Long)].collect().head
    assert(f === ((5L, 3L, 2L, 1L)))
  }

  test("fineweb fuzzy funnel clusters near-dups and exact copies via minhash-lsh") {
    // doc 2 is a NEAR dup of doc 1 (3 appended words, Jaccard 10/13) —
    // exact text hashing would keep both; doc 4 is an exact copy of 3.
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima extra tail words"),
      (3L, "mango nectar orange papaya quince raisin salmon tomato ugli vanilla walnut xigua"),
      (4L, "mango nectar orange papaya quince raisin salmon tomato ugli vanilla walnut xigua"))
      .toDF("doc_id", "text")
    val buckets = docs.select(col("doc_id"), lit(0L).as("score_u"), lit("head").as("bucket"))
    val got = CleanPipeline.fineWebFunnelFuzzy(docs, col("doc_id"), col("text"),
        buckets, minWords = 5, minStopHits = 0, threshold = 0.5)
      .collect().head
    assert(got.getAs[Long]("n_raw") === 4L)
    assert(got.getAs[Long]("n_rules") === 4L)
    assert(got.getAs[Long]("n_dedup") === 2L)
    assert(got.getAs[Long]("n_final") === 2L)
    assert(got.getAs[Long]("final_id_sum") === 4L) // canonicals: 1 and 3
  }

  test("dolma funnel: paragraph bloom drops ingested content, exact companion prices FP loss") {
    // incoming doc 1's single paragraph is already ingested (true dup —
    // bloom MUST flag it, one-sided); doc 2 is fresh; doc 3 fails quality
    val mkText = (s: String) => s + " the of and to in is was it for on"
    val ingested = Seq((100L, mkText("alpha bravo charlie delta echo")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, mkText("alpha bravo charlie delta echo")),
      (2L, mkText("zulu yankee xray whiskey victor")),
      (3L, "tiny"))
      .toDF("doc_id", "text")
    val got = CleanPipeline.dolmaFunnel(incoming, ingested, col("doc_id"),
        col("text"), mBits = 4096L, k = 3, paraTokens = 15,
        minWords = 5, minStopHits = 1)
      .collect().head
    assert(got.getAs[Long]("n_raw") === 3L)
    assert(got.getAs[Long]("n_quality") === 2L)
    // doc 1 loses its only (ingested) paragraph; doc 2 survives unless a
    // 4096-bit FP hits its one paragraph — n_bloom <= n_exact always
    assert(got.getAs[Long]("n_exact") === 1L)
    assert(got.getAs[Long]("n_bloom") <= got.getAs[Long]("n_exact"))
    assert(got.getAs[Long]("final_id_sum") ===
      (if (got.getAs[Long]("n_bloom") == 1L) 2L else 0L))
  }

  test("parity fingerprint and simhash keep the family's invariances") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta"),
      (2L, "  ALPHA Bravo CHARLIE delta"),  // case/ws twin of 1
      (3L, "delta charlie bravo alpha"),    // same bag, different order
      (4L, "alpha bravo charlie delta echo"))
      .toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"),
        TextAnalysis.fingerprintParity(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))   // case/whitespace-invariant
    assert(fp(1L) !== fp(3L))   // order-sensitive
    assert(fp(1L) !== fp(4L))   // content-sensitive
    val sh = Dedup.simHashParity(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))   // identical token multiset -> identical print
    assert(sh(1L) === sh(3L))   // simhash is order-INSENSITIVE by design
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) <= 16,
      "one extra token must stay Hamming-close on a 48-bit print")
  }

  test("parity minhash signatures agree with the xxhash64 family's candidate algebra") {
    // identical shingle sets ⇒ identical signatures in ANY family; the
    // parity family must therefore band exact copies together
    val sh = Seq((1L, "a b c"), (1L, "b c d"), (2L, "a b c"), (2L, "b c d"),
      (3L, "x y z")).toDF("doc_id", "shingle")
    val cands = Dedup.lshCandidates(Dedup.minHashSignaturesParity(sh, 8), 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(cands === Set((1L, 2L)))
  }

  test("bpe-ish pre-tokenizer splits letter runs, digit runs, and marks") {
    val got = Seq((0L, "A, b2-c!"), (1L, "hello world"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    // "a, b2-c!" -> a , b 2 - c !  => 7
    assert(got === Map(0L -> 7, 1L -> 2, 2L -> 0))
  }

  test("vocabulary: top-k by count with deterministic tie-break") {
    val corpus = Seq((0L, "b b b a a c"), (1L, "a c d")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(corpus, col("text"), 3)
      .as[(String, Long)].collect().toSeq
    assert(v === Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("multimodal: frame sampling walks the real stts/stsz tables") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // cls = 7: n = 39 samples, d1 = 519 (first 16), d2 = 1031, ts = 1070
    val media = Multimodal.synthesizeMp4Samples(
      Seq(java.lang.Long.valueOf(7L)).toDS())
    val frames = Multimodal.sampleFrames(media, everyK = 5)
      .collect().sortBy(_.frame_idx).toSeq
    assert(frames.map(_.frame_idx) === Seq(0, 5, 10, 15, 20, 25, 30, 35))
    assert(frames.head.ts_ms === 0L)
    assert(frames(1).ts_ms === 5L * 519 * 1000 / 1070)
    // sample 20 sits in the second run: 16 d1 ticks + 4 d2 ticks
    assert(frames(4).ts_ms === (16L * 519 + 4L * 1031) * 1000 / 1070)
    assert(frames.map(_.frame_bytes) ===
      Seq(0, 5, 10, 15, 20, 25, 30, 35).map(i => Multimodal.mp4SampleSize(7L, i)))
  }

  test("multimodal: media-meta dispatch decodes each container for real") {
    implicit val s = spark
    // ids 0/1/2 -> png/wav/mp4; every content_sum must match its law
    val media = Multimodal.synthesizeMixedMedia(
      Seq(0L, 1L, 2L).map(java.lang.Long.valueOf).toDS())
    val meta = Multimodal.extractMediaMeta(media)
      .collect().map(m => m.doc_id -> m).toMap
    val png = meta(0L)
    assert(png.format === "png" && png.width === PngCodec.SynthW &&
      png.height === PngCodec.SynthH && png.n_frames === 1)
    val pngSum = (for (y <- 0 until PngCodec.SynthH; x <- 0 until PngCodec.SynthW)
      yield PngCodec.classPixel(0L, x, y).toLong).sum
    assert(png.content_sum === pngSum)
    val wav = meta(1L)
    assert(wav.format === "wav" && wav.n_frames === AudioCodec.NSamples &&
      wav.duration_ms === AudioCodec.NSamples * 1000L / AudioCodec.SampleRate)
    assert(wav.content_sum ===
      (0 until AudioCodec.NSamples).map(i => AudioCodec.classSample(1L, i).toLong).sum)
    val mp4 = meta(2L)
    assert(mp4.format === "mp4" && mp4.n_frames === Multimodal.mp4SampleCount(2L))
    assert(mp4.content_sum === (0 until Multimodal.mp4SampleCount(2L))
      .map(i => Multimodal.mp4SampleSize(2L, i).toLong).sum)
    val ts = 1000 + 10 * 2
    val ticks = 16L * (512 + 2) + (16 + 2).toLong * (1024 + 2)
    assert(mp4.duration_ms === ticks * 1000 / ts)
  }

  test("repetition: boilerplate fails Gopher thresholds, prose passes") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over one lazy dog near a river bank today"),
      (1L, "spam ham spam ham spam ham spam ham spam ham spam ham"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionFeatures(corpus, col("doc_id"), col("text"))
      .as[(Long, Int, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n0, d0, w0, _, keep0) = got(0L)
    assert(n0 === 14 && keep0)
    assert(d0 === 1.0 && w0 === 1.0 / 14.0) // all 14 words distinct
    val (_, n1, _, w1, b1, keep1) = got(1L)
    // 12 words, 6x "spam": top word 0.5, "spam ham" bigram 6/11
    assert(n1 === 12 && w1 === 0.5 && b1 === 6.0 / 11.0 && !keep1)
  }

  test("pii: counts and redaction, clean docs untouched") {
    val corpus = Seq(
      (0L, "no personal data in this text"),
      (1L, "reach me at a.b+c@mail-host.example.org or 555-123-4567 or x@y.io"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiFeatures(corpus, col("doc_id"), col("text"))
      .as[(Long, Int, Int, Boolean, String)].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._2 === 0 && got(0L)._3 === 0 && !got(0L)._4)
    assert(got(1L)._2 === 2 && got(1L)._3 === 1 && got(1L)._4)
    // redaction is total: the redacted text of doc 1 equals the template
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("reach me at <EMAIL> or <PHONE> or <EMAIL>".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(1L)._5 === expected)
  }

  test("decontamination flags eval-overlapping docs only") {
    val evalSet = Seq((100L, "alpha bravo charlie delta echo foxtrot golf hotel india")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "intro alpha bravo charlie delta echo foxtrot golf hotel outro"), // shares an 8-gram
      (1L, "totally unrelated words that never overlap with benchmark content at all"),
      (2L, "short doc")) // too short to shingle
      .toDF("doc_id", "text")
    val got = Decontaminate.flagOverlap(corpus, evalSet, col("doc_id"), col("text"), n = 8)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._2 === 1L && got(0L)._3)
    assert(got(1L)._2 === 0L && !got(1L)._3)
    assert(got(2L)._2 === 0L && !got(2L)._3)
    assert(got.size === 3)
  }

  test("embedding decontamination: nearest eval vector, threshold, tie-break") {
    val evalSet = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(1.0, 0.0)),
      (30L, Seq(0.0, 1.0))).toDF("eval_id", "embedding")
    val corpus = Seq(
      (0L, Seq(2.0, 0.0)),  // exact direction match to evals 10 AND 20 -> tie, min id
      (1L, Seq(3.0, 4.0)),  // cos 0.8 to (0,1)-ish? best is 0.6/0.8 -> eval 30 at 0.8
      (2L, Seq(1.0, -50.0))) // near -y: best cosine is tiny/negative
      .toDF("vec_id", "embedding")
    val got = Decontaminate.flagEmbedOverlap(corpus, evalSet, thresholdU = 95000L)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, 10L, 100000L, true)))  // tie broken to eval 10
    assert(got(1L) === ((1L, 30L, 80000L, false)))  // cos 4/5, below 0.95
    assert(got(2L)._4 === false)
    assert(got.size === 3)
  }

  test("semdedup: clones pruned within cluster, one representative survives") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0)),
      (2L, Array(1.0, 0.001, 0.0)),  // near-clone of 0
      (3L, Array(0.0, 1.0, 0.001)),  // near-clone of 1
      (4L, Array(-1.0, 0.0, 0.0)))   // opposite: same cluster as 1? no — nearest by cosine
      .toDF("vec_id", "embedding")
    val cents = Similarity.headCentroids(vecs, 2) // centroids: vecs 0 and 1
    val got = Similarity.semDedup(vecs, cents, threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.size === 5)
    assert(got(0L)._2 === 0L && got(0L)._3)   // survives its own cluster
    assert(got(2L)._2 === 0L && !got(2L)._3)  // pruned by 0
    assert(got(1L)._2 === 1L && got(1L)._3)
    assert(got(3L)._2 === 1L && !got(3L)._3)  // pruned by 1
    assert(got(4L)._3)                        // far from everything: kept
  }

  test("chunking: overlapping windows cover every token, boundaries exact") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  // 10 tokens
      (2L, "a b c"),                            // shorter than one window
      (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, col("doc_id"), col("text"),
        maxTokens = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1: stride 2, chunks at 0,2,4,6,8: last (8) kept as partial;
    // chunk starts beyond n-overlap=8 not emitted
    assert(got((1L, 0L)) === ((4L, 0L, "t0 t1 t2 t3")))
    assert(got((1L, 1L)) === ((4L, 2L, "t2 t3 t4 t5")))
    assert(got((1L, 2L)) === ((4L, 4L, "t4 t5 t6 t7")))
    assert(got((1L, 3L)) === ((4L, 6L, "t6 t7 t8 t9")))
    assert(!got.contains((1L, 4L)))  // [8,12) adds nothing beyond overlap
    assert(got((2L, 0L)) === ((3L, 0L, "a b c")))
    assert(got((3L, 0L)) === ((1L, 0L, "x")))
    assert(got.size === 6)
  }

  test("rarity: hapax fraction and mean corpus frequency") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common rare2")).toDF("doc_id", "text")
    val got = TextAnalysis.rarityFeatures(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    // corpus: common=3, rare1=1, rare2=1; freq_mass weights each corpus
    // count by the token's in-doc occurrences
    assert(got(1L) === ((3L, (2 * 3 + 1).toDouble / 3, 1.0 / 3, 1L)))
    assert(got(2L) === ((2L, (3 + 1).toDouble / 2, 1.0 / 2, 1L)))
  }

  test("line dedup strips cross-document boilerplate, keeps order, drops emptied docs") {
    val docs = Seq(
      (1L, "BOILER\nunique one\nFOOTER"),
      (2L, "BOILER\nunique two\nFOOTER"),
      (3L, "BOILER\nunique three"),
      (4L, "boiler \nunique four"),   // normalization: case/trim-insensitive
      (5L, "BOILER"))                  // nothing left -> dropped
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, col("doc_id"), col("text"), maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // BOILER appears in 5 distinct docs (>2) -> stripped; FOOTER in 2 -> kept
    assert(got(1L) == "unique one\nFOOTER")
    assert(got(2L) == "unique two\nFOOTER")
    assert(got(3L) == "unique three")
    assert(got(4L) == "unique four")
    assert(!got.contains(5L) && got.size == 4)
  }

  test("bpe learning: golden merges and deterministic tie-break") {
    // words: ab x3, abc x1 -> pair (a,b) mass 4 merges first; then (ab,c) mass 1
    val docs = Seq((0L, "ab ab ab"), (1L, "abc")).toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(docs, col("text"), nMerges = 5)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq((1, "a", "b", 4L), (2, "ab", "c", 1L)))
    // loop stops when no pairs remain (2 merges exhaust the vocab, not 5)
  }

  test("bpe encoding applies merges lowest-rank-first and passes through non-letters") {
    val docs = Seq((0L, "ab ab ab"), (1L, "abc"), (2L, "ab 42 x!")).toDF("doc_id", "text")
    val merges = Seq(("a", "b", 1), ("ab", "c", 2))
    val enc = TextAnalysis.bpeEncodedCount(merges)
    val got = docs.select(col("doc_id"), enc(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    // "ab"->1 symbol each; "abc"->[ab,c]->[abc] 1; "42"/"x!" non-letter = 1 each
    assert(got === Map(0L -> 3, 1L -> 1, 2L -> 3))
  }

  test("sequence packing splits documents exactly at context boundaries") {
    // stream: doc0 [0,3) doc1 [3,8) doc2 [8,9); contextLen 4
    val docs = Seq((0L, "a b c"), (1L, "d e f g h"), (2L, "i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs, col("doc_id"), col("text"), contextLen = 4)
      .select("seq_id", "doc_id", "seq_pos", "doc_pos", "n_toks")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (0L, 0L, 0L, 0L, 3L),  // doc0 fills seq0[0..3)
      (0L, 1L, 3L, 0L, 1L),  // doc1's first token tops off seq0
      (1L, 1L, 0L, 1L, 4L),  // doc1's tail fills all of seq1
      (2L, 2L, 0L, 0L, 1L))) // doc2 starts seq2 (final partial sequence)
  }

  test("sequence packing conserves tokens and never overfills a sequence") {
    val docs = (0L until 40L).map(i => (i, ("tok " * (i.toInt % 7 + 1)).trim)).toDF("doc_id", "text")
    val packed = TextAnalysis.packSequences(docs, col("doc_id"), col("text"), contextLen = 10)
    // per-document spans reassemble the document
    val perDoc = packed.groupBy("doc_id")
      .agg(sum("n_toks").as("n"), min("doc_pos").as("lo"))
      .as[(Long, Long, Long)].collect()
    perDoc.foreach { case (id, n, lo) => assert(n == id % 7 + 1 && lo == 0L) }
    // per-sequence fill is exactly contextLen except the last
    val perSeq = packed.groupBy("seq_id").agg(sum("n_toks").as("fill"))
      .orderBy("seq_id").as[(Long, Long)].collect()
    perSeq.init.foreach { case (_, fill) => assert(fill == 10L) }
    assert(perSeq.last._2 <= 10L)
  }

  test("triplet mining picks the top same-label positive and cross-label negatives") {
    // axis-aligned vectors: anchor 0 (label A) is closest to 1 (A, cos
    // .9...), then 2 (B), 3 (B), 4 (C); 5 has label D with no partner
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0), "A"),
      (1L, Seq(0.9, 0.1, 0.0), "A"),   // positive for 0
      (2L, Seq(0.8, 0.2, 0.0), "B"),   // hardest negative
      (3L, Seq(0.5, 0.5, 0.0), "B"),
      (4L, Seq(0.0, 1.0, 0.0), "C"),
      (5L, Seq(0.0, 0.0, 1.0), "D"))   // lone label: no triplet
      .toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id").isin(0L, 5L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("query_label"))
    val got = Similarity.mineTriplets(vecs, queries, kNeg = 2)
      .select("query_id", "pos_id", "neg_id", "neg_rank", "margin")
      .as[(Long, Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._4))
    // anchor 5 has no same-label partner: no rows
    assert(got.map(_._1).toSet === Set(0L))
    assert(got.map(r => (r._2, r._3, r._4)).toSeq === Seq((1L, 2L, 1), (1L, 3L, 2)))
    // margins ordered: the hardest negative has the smallest margin
    assert(got(0)._5 < got(1)._5)
    assert(got.forall(_._5 > 0.0))
  }

  test("duplicate spans: shared prefixes merge into one region, short docs exempt") {
    val docs = Seq(
      (0L, "a b c d e f g h"),             // 8 toks, shared fully with 1
      (1L, "a b c d e f g h x y z"),       // shares [0,7] with 0
      (2L, "q r s t u v w q2 r2 s2 t2"),   // unique
      (3L, "one two"))                     // shorter than k: no windows
      .toDF("doc_id", "text")
    val got = TextAnalysis.duplicateSpans(docs, col("doc_id"), col("text"), k = 4)
      .select("doc_id", "n_tokens", "n_dup_tokens", "n_regions")
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, 8, 8L, 1L)))   // fully covered, one region
    assert(got(1L) === ((1L, 11, 8L, 1L)))  // prefix region only
    assert(got(2L) === ((2L, 11, 0L, 0L)))
    assert(got(3L) === ((3L, 2, 0L, 0L)))
  }

  test("duplicate spans: disjoint shared windows make separate regions") {
    // docs share tokens [0,3] and [8,11] but differ in the middle
    val docs = Seq(
      (0L, "a b c d M1 M2 M3 M4 w x y z"),
      (1L, "a b c d K1 K2 K3 K4 w x y z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.duplicateSpans(docs, col("doc_id"), col("text"), k = 4)
      .select("doc_id", "n_dup_tokens", "n_regions")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, 8L, 2L)))
    assert(got(1L) === ((1L, 8L, 2L)))
  }

  test("dup-span strip: owner keeps its copy, others lose the region, text reassembles") {
    val docs = Seq(
      (0L, "a b c d e f g h"),             // owner of the shared windows
      (1L, "a b c d e f g h x y z"),       // shared prefix must be CUT
      (2L, "q r s t u v w q2 r2 s2 t2"),   // unique: untouched
      (3L, "one two"))                     // shorter than k: untouched
      .toDF("doc_id", "text")
    val got = TextAnalysis.stripDuplicateSpans(docs, col("doc_id"), col("text"), k = 4)
      .as[(Long, Int, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0L) === ((0L, 8, 0L, 0L, m("a b c d e f g h")))) // owner intact
    assert(got(1L) === ((1L, 11, 8L, 1L, m("x y z"))))          // prefix cut
    assert(got(2L)._3 === 0L && got(2L)._5 === m("q r s t u v w q2 r2 s2 t2"))
    assert(got(3L)._3 === 0L && got(3L)._5 === m("one two"))
  }

  test("dup-span strip: chained ownership can drop every copy (documented best-effort bound)") {
    // doc2 owns 'a b c d'; doc3 owns 'd e f g' but loses its copy to
    // the 'a b c d' cut; doc7's copy is removable — so 'd e f g'
    // survives nowhere. The scaladoc documents this as the best-effort
    // bound (the published ExactSubstr cutter removes every occurrence
    // unconditionally); this spec pins the behavior so a future
    // "fix" that silently changes the rule trips a test.
    val docs = Seq((2L, "a b c d"), (3L, "a b c d e f g"), (7L, "d e f g"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.stripDuplicateSpans(docs, col("doc_id"), col("text"), k = 4)
      .as[(Long, Int, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(2L)._5 === m("a b c d")) // owner intact
    assert(got(3L)._5 === m("e f g"))   // its 'a b c d' prefix cut
    assert(got(7L)._5 === m(""))        // 'd e f g' gone everywhere
  }

  test("bigram perplexity: in-domain docs score lower NLL; short docs null") {
    val target = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown fox runs over the lazy cat"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (0L, "the quick brown fox jumps"),   // in-domain bigrams
      (1L, "zzz qqq www eee rrr"),         // unseen bigrams
      (2L, "one"))                          // < 2 tokens: no bigrams
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramPerplexity(raw, target, col("doc_id"), col("text"))
      .select("doc_id", "n_bigrams", "avg_nll_r")
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._2 === 4L && got(1L)._2 === 4L)
    assert(got(0L)._3.get < got(1L)._3.get)  // in-domain is likelier
    assert(got(2L) === ((2L, 0L, None)))
    // model tables broadcast; the scoring stream never shuffles on them
    val p = TextAnalysis.bigramPerplexity(raw, target, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("SQ8: trained ranges, clamped codes, reconstructed ranking") {
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      (0L, Seq(1.0, 0.0, 10.0)),
      (1L, Seq(0.9, 0.1, 10.0)),   // near doc 0; dim 2 is degenerate-ish
      (2L, Seq(-1.0, 1.0, 10.0)),
      (3L, Seq(0.0, -1.0, 10.0)))
      .toDF("vec_id", "embedding")
    val model = Similarity.sqTrain(corpus)
    assert(model.lo.toSeq === Seq(-1.0, -1.0, 10.0))
    assert(model.hi.toSeq === Seq(1.0, 1.0, 10.0))
    val codes = Similarity.sqEncode(corpus, model).orderBy("vec_id")
      .select("sq_code").as[Seq[Int]].collect()
    // endpoints land exactly on 0/255; the degenerate dim codes to 0
    assert(codes(0) === Seq(255, 128, 0))
    assert(codes(2) === Seq(0, 255, 0))
    assert(codes.flatten.forall(c => c >= 0 && c <= 255))
    val queries = corpus.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top = Similarity.sqTopK(
        Similarity.sqEncode(corpus, model),
        Similarity.sqEncode(queries, model, vecCol = "query_vec"),
        model, 3)
      .orderBy("rank").select("vec_id").as[Long].collect()
    // reconstructed-dot ranking matches the true float dot ordering:
    // doc 1 (0.9) > doc 3 (0.0... wait dot with (1,0,10): d1=0.9+0+100,
    // d3=0-0+100, d2=-1+0+100 -> 1, 3, 2
    assert(top.toSeq === Seq(1L, 3L, 2L))
  }
}
