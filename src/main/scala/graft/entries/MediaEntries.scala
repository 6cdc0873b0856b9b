package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._


/** Driver-contract entries: the multimodal/media family — real PNG and
  * WAV codecs, perceptual-hash image dedup, pixel/sample quality gates,
  * header parsing, frame sampling, and the image-curation funnels
  * (batch + growing-index streaming).
  *
  * Pure move out of [[AnalyticsEntries]] (round 16, file-size guideline):
  * the entry and oracle text is byte-identical to its former spelling;
  * the combined maps are assembled back in [[graft.SparkEntry]].
  */
private[graft] object MediaEntries {

  /** The fixed-point cosine basis as oracle CTEs: the 65-literal
    * quarter wave (byte-identical to `AudioCodec.CosTab`'s generator)
    * + the symmetry fold to the full 256-entry period. Shared by the
    * spectral entry and the audio funnel so the basis cannot diverge
    * between oracles. */
  private val CosCtes: String =
    """qtab(m, v) AS (VALUES
      |  (0,4096),(1,4095),(2,4091),(3,4085),(4,4076),(5,4065),(6,4052),
      |  (7,4036),(8,4017),(9,3996),(10,3973),(11,3948),(12,3920),
      |  (13,3889),(14,3857),(15,3822),(16,3784),(17,3745),(18,3703),
      |  (19,3659),(20,3612),(21,3564),(22,3513),(23,3461),(24,3406),
      |  (25,3349),(26,3290),(27,3229),(28,3166),(29,3102),(30,3035),
      |  (31,2967),(32,2896),(33,2824),(34,2751),(35,2675),(36,2598),
      |  (37,2520),(38,2440),(39,2359),(40,2276),(41,2191),(42,2106),
      |  (43,2019),(44,1931),(45,1842),(46,1751),(47,1660),(48,1567),
      |  (49,1474),(50,1380),(51,1285),(52,1189),(53,1092),(54,995),
      |  (55,897),(56,799),(57,700),(58,601),(59,501),(60,401),(61,301),
      |  (62,201),(63,101),(64,0)),
      |ct AS (
      |  SELECT u.m,
      |    CAST((CASE WHEN u.m BETWEEN 65 AND 192 THEN -1 ELSE 1 END) * q.v
      |      AS BIGINT) AS v
      |  FROM unnest(range(256)) u(m) JOIN qtab q ON q.m =
      |    CASE WHEN u.m <= 64 THEN u.m WHEN u.m <= 128 THEN 128 - u.m
      |         WHEN u.m <= 192 THEN u.m - 128 ELSE 256 - u.m END)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_media_meta" -> ((s, dir) => {
      // REAL codec dispatch (round 17 — the stub codec is retired): one
      // corpus with the modality rotating by doc_id % 3 (a genuine PNG /
      // WAV / MP4 per doc, each over its closed-form law), metadata
      // extracted by the signature-dispatched real decoders — decoded
      // pixel sums, decoded PCM sample sums, parsed sample tables. The
      // oracle recomputes every field from the planted laws; a wrong
      // dispatch, filter reconstruction, sample sign, or table offset
      // shows up as a field mismatch.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.Multimodal.synthesizeMixedMedia(ids)
      graft.analytics.Multimodal.extractMediaMeta(media).toDF()
        .orderBy("doc_id")
    }),

    "mm_header_parse" -> ((s, dir) => {
      // REAL container-header parsing (no codec needed): synthesize a
      // valid PNG / GIF / JPEG header per doc (format by id%3, dims and
      // padding id-derived), then parse the bytes back through the
      // mapPartitions batch path. The oracle recomputes the planted
      // values arithmetically — a wrong byte order, offset, or marker
      // walk shows up as a dimension mismatch.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[java.lang.Long]
      graft.analytics.Multimodal.parseHeaders(
          graft.analytics.Multimodal.synthesizeMedia(ids)).toDF()
        .orderBy("doc_id")
    }),

    "mm_av_header_parse" -> ((s, dir) => {
      // REAL audio/video container parsing (no codec needed): a valid
      // WAV (RIFF chunk walk: fmt chunk fields + data size / byte rate
      // duration) or MP4 (ISO-BMFF box walk: ftyp brand, moov→mvhd
      // timescale/duration) header per doc, parsed back through the
      // same mapPartitions batch path. The oracle recomputes every
      // planted field arithmetically — a wrong endianness, chunk pad,
      // or box offset shows up as a field mismatch.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[java.lang.Long]
      graft.analytics.Multimodal.parseAvHeaders(
          graft.analytics.Multimodal.synthesizeAvMedia(ids)).toDF()
        .orderBy("doc_id")
    }),

    "mm_gif_anim" -> ((s, dir) => {
      // REAL animated-GIF metadata walk (round 17): structurally genuine
      // GIF89a files — NETSCAPE loop extension, per-frame graphic
      // control extensions with planted centisecond delays, image
      // descriptors with dummy LZW payloads skipped by their sub-block
      // length prefixes (the metadata pass never decodes pixels). The
      // oracle recomputes every planted field arithmetically — a wrong
      // sub-block skip, extension label, or little-endian delay shows
      // up as a count or delay mismatch.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[java.lang.Long]
      graft.analytics.Multimodal.parseGifAnims(
          graft.analytics.Multimodal.synthGifAnim(ids)).toDF()
        .orderBy("doc_id")
    }),

    "mm_frame_sample" -> ((s, dir) => {
      // 1->N frame extraction from the REAL stts/stsz sample tables
      // (round 17 — the stub n_frames law is retired): every 7th sample
      // of each structurally genuine MP4, timestamped by the cumulative
      // time-to-sample deltas over the mdhd timescale and sized from the
      // stsz table. The oracle replays the closed-form tables — a wrong
      // run cursor, tick sum, or size offset shifts a timestamp or a
      // byte total.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.Multimodal.synthesizeMp4Samples(ids)
      graft.analytics.Multimodal.sampleFrames(media, everyK = 7).toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sampled"), max("ts_ms").as("max_ts_ms"),
          sum("frame_bytes").as("sum_frame_bytes"))
        .orderBy("doc_id")
    }),

    "mm_png_decode" -> ((s, dir) => {
      // REAL pixel decode (round 16 — the first un-stubbed codec in the
      // multimodal family): synthesize genuine PNGs (zlib deflate, CRC-32
      // chunks, scanline y filtered with type y % 5 so all five spec
      // filters are exercised), decode them with the pure-JVM
      // Inflater+unfilter path, and reduce to pixel stats the oracle
      // recomputes arithmetically from the closed-form pixel law
      // v(x,y) = (class·31 + 7x + 13y) mod 256. The codec pair is
      // independently cross-validated against the JDK's ImageIO PNG
      // codec in PngCodecSpec.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.PngCodec.synthPngMedia(ids)
      graft.analytics.PngCodec.decodeStats(media).toDF()
        .orderBy("doc_id")
    }),

    "pipe_image_stream" -> ((s, dir) => {
      // The image funnel as a continuous query with a GROWING hash
      // index — the multimodal dd_incremental_stream:
      // micro-batch 0 delivers fresh law-B images (all `new`, admitted
      // to the standing index seeded with the law-A corpus);
      // micro-batch 1 delivers (a) law-A corpus copies -> dup of the
      // ORIGINAL corpus image, (b) law-B copies of batch-0 images ->
      // dup of the batch-0 id (the growing-index proof), (c) an
      // intra-batch law-C pair -> earlier `new`, later `dup`, and
      // (d) dark-law images the REAL pixel gate must reject, and
      // (e) JPEGs with planted DQT qualities the PRE-DECODE
      // gate must judge (sub-50 reject, keepers `new` but never in the
      // hash index — batch-funnel parity). The oracle replays both
      // batches in sequence, both gates included.
      implicit val sp: SparkSession = s
      import s.implicits._
      import graft.analytics.PngCodec
      val docs = T(s, dir, "documents")
      def ids(mod: Int, off: Long) = docs.where(col("doc_id") % mod === 0)
        .select((col("doc_id") + off).as("doc_id")).as[java.lang.Long]
      val corpusIds = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val out = cleanupOnExit(
        java.nio.file.Files.createTempDirectory("graft_imgs_out")).toString
      val b0 = PngCodec.synthMediaWithLaw(
        ids(31, 900000000L), PngCodec.classPixelB).toDF()
      val b1 = PngCodec.synthMediaWithLaw(
          ids(23, 100000000L), PngCodec.classPixel).toDF()
        .unionByName(PngCodec.synthMediaWithLaw(
          ids(31, 300000000L), PngCodec.classPixelB).toDF())
        .unionByName(PngCodec.synthMediaWithLaw(
          ids(29, 400000000L), PngCodec.classPixelC).toDF())
        .unionByName(PngCodec.synthMediaWithLaw(
          ids(29, 500000000L), PngCodec.classPixelC).toDF())
        .unionByName(PngCodec.synthMediaWithLaw(
          ids(37, 600000000L), PngCodec.darkPixel).toDF())
        .unionByName(graft.analytics.JpegDqt.synthJpegMedia(
          ids(41, 700000000L)).toDF())
      // state seeding and batch staging are independent writes — overlap
      val (_, inDir) = graft.Overlap.both(
        PngCodec.initImageState(PngCodec.synthPngMedia(corpusIds), s"$out/state"),
        AnalyticsEntries.stageOrderedBatches("graft_imgs", Seq(b0, b1)))
      val stream = graft.streaming.Transforms.PathInput(
        inDir, b0.schema, maxFilesPerTrigger = Some(1)).stream(s)
      PngCodec.imageFunnelStream(stream, s"$out/state", s"$out/verdicts",
        s"$out/ckpt")
      AnalyticsEntries.crawlVerdicts(s, s"$out/verdicts")
    }),

    "pipe_image_funnel" -> ((s, dir) => {
      // The image-curation funnel (round 16): REAL decode → pixel
      // quality gate → perceptual-hash dedup, one verdict per image —
      // the multimodal analogue of the crawl text funnel. Planted
      // rejects (doc_id % 17: dark-law pixels the gate must catch) and
      // planted duplicates (shared classes) travel as genuine PNGs; no
      // stage sees the synthesis law. The oracle replays gate, hashes,
      // banding, and canonical dup assignment.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.PngCodec.synthFunnelMedia(ids)
      graft.analytics.PngCodec.imageFunnel(media).orderBy("doc_id")
    }),

    "mm_jpeg_quality" -> ((s, dir) => {
      // Pre-decode JPEG quality estimation (round 17): DQT tables
      // planted at IJG quality 1 + doc_id % 100, parsed back by the
      // marker/DQT walk and inverted EXACTLY against the public Annex K
      // reference tables (the IJG-scaled family is injective over q —
      // 100 distinct pairs, verified in JpegDqtSpec — so the min-q
      // exact-match scan recovers the encode quality). No pixel decode
      // anywhere; the crawl funnel's cheap reject. The oracle replays
      // the scaling law, the table sums, and the min-q scan.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.JpegDqt.synthJpegMedia(ids)
      graft.analytics.JpegDqt.qualityEstimates(media).toDF()
        .orderBy("doc_id")
    }),

    "mm_wav_features" -> ((s, dir) => {
      // REAL audio decode (round 16): synthesize genuine RIFF/WAVE PCM
      // files over a closed-form sample law, decode them with the
      // pure-JVM chunk-walk + LE-int16 path, and extract the integer
      // features an audio pipeline's silence/clipping gates run on
      // (peak, energy, DC offset, zero crossings). Codec pair
      // cross-validated against the JDK's javax.sound.sampled WAV codec
      // in AudioCodecSpec; the oracle recomputes every feature
      // arithmetically.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.AudioCodec.synthWavMedia(ids)
      graft.analytics.AudioCodec.features(media).toDF()
        .orderBy("doc_id")
    }),

    "mm_mp4_samples" -> ((s, dir) => {
      // REAL video sample-table decode (round 16): structurally genuine
      // MP4s (nested ISO-BMFF box tree down to stbl) carrying
      // closed-form stts/stsz tables, walked back with the recursive
      // box parser — timescale from mdhd, durations from the
      // time-to-sample runs, byte totals from the size table. The
      // metadata pass a video pipeline runs before any codec; the
      // oracle recomputes every aggregate arithmetically.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.Multimodal.synthesizeMp4Samples(ids)
      graft.analytics.Multimodal.parseMp4Samples(media).toDF()
        .orderBy("doc_id")
    }),

    "mm_caption_align" -> ((s, dir) => {
      // CLIP-shaped caption↔image pair curation (round 16): per caption,
      // score a bounded candidate set of image embeddings and keep the
      // best match. Text encoder is a DECLARED STUB (md5-basis
      // bag-of-tokens — no models in this container); the pairing,
      // quantization, exact int64 alignment dots, and top-1 window are
      // the real dataflow and fully oracle-replayed.
      graft.analytics.Multimodal.captionAlign(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        T(s, dir, "embeddings"))
        .orderBy("doc_id")
    }),

    "mm_audio_dedup" -> ((s, dir) => {
      // Audio near-dup detection over REAL decoded WAV samples
      // (round 16): 64-block energy-profile fingerprints (division-free
      // int64 sums of squares), the same four-16-bit-band bucketing and
      // XOR-popcount verify as the image path — one dedup machinery,
      // two modalities. The oracle recomputes every energy, bit, band,
      // and popcount from the closed-form sample law.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.AudioCodec.synthWavMedia(ids)
      val hashes = graft.analytics.AudioCodec.audioHash(media).toDF()
      graft.analytics.PngCodec.phashDedup(hashes, maxHamming = 3)
        .orderBy("img_a", "img_b")
    }),

    "pipe_audio_funnel" -> ((s, dir) => {
      // The audio-curation funnel (round 17): REAL WAV decode →
      // silence/clipping/static gates (time-domain peaks + the
      // fixed-point envelope DCT) → fingerprint dedup, one verdict per
      // clip — the audio twin of pipe_image_funnel, sharing its banded
      // dedup machinery. Planted rejects (silent / clipped / static
      // laws by id residue, each failing exactly one gate with a
      // verified margin) and planted duplicates (shared classes) travel
      // as genuine WAVs; the oracle replays laws, peaks, the DCT gate,
      // energies, bands, and canonical dup assignment.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.AudioCodec.synthAudioFunnelMedia(ids)
      graft.analytics.AudioCodec.audioFunnel(media).orderBy("doc_id")
    }),

    "mm_audio_spectral" -> ((s, dir) => {
      // Fixed-point spectral pass (round 17): integer DCT-II over the
      // REAL decoded clips' 64-block energy envelope — the
      // silence/bandwidth/music-vs-speech gates an audio curation
      // pipeline runs after the time-domain ones. The cosine basis is
      // planted as integer LITERALS (AudioCodec.CosTab), so the oracle
      // replays the exact arithmetic: energies from the sample law,
      // every coefficient through the same folded quarter-wave table.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.AudioCodec.synthWavMedia(ids)
      graft.analytics.AudioCodec.spectral(media).toDF().orderBy("doc_id")
    }),

    "mm_image_quality" -> ((s, dir) => {
      // Pixel-statistics quality gate over REAL decoded PNGs (round 16):
      // brightness bounds, contrast floor, solid-color rejection — the
      // LAION-style filter pass between decode and embedding. Integer
      // comparisons only (cross-multiplied means); the oracle recomputes
      // min/max/sum from the closed-form pixel law.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.PngCodec.synthPngMedia(ids)
      graft.analytics.PngCodec.qualityStats(media).toDF()
        .orderBy("doc_id")
    }),

    "mm_phash_dedup" -> ((s, dir) => {
      // Perceptual-hash image dedup (round 16): decode pixels → dHash
      // over a 9×8 block grid (sum comparisons, no division — exact
      // integers) → four 16-bit bands → band-equality candidate join →
      // exact Hamming verify (XOR popcount). Images are keyed by
      // doc_id % 64, so same-class docs are exact pixel duplicates the
      // banding must surface; the banded design is the SimHash one —
      // never all-pairs. The oracle replays pixel law, block sums, every
      // hash bit, the band join, and the popcounts.
      implicit val sp: SparkSession = s
      import s.implicits._
      val ids = T(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[java.lang.Long]
      val media = graft.analytics.PngCodec.synthPngMedia(ids)
      val hashes = graft.analytics.PngCodec.dHash(media).toDF()
      graft.analytics.PngCodec.phashDedup(hashes, maxHamming = 3)
        .orderBy("img_a", "img_b")
    }),

  )

  def oracleSql: Map[String, String] = Map(
    // Closed-form replay of the dispatched REAL decodes: pixel sums
    // from the PNG law, signed sample sums from the WAV law,
    // sample-table totals from the MP4 law — one leg per modality.
    "mm_media_meta" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS cls FROM documents),
        |png AS (
        |  SELECT d.doc_id,
        |    CAST(sum((d.cls * 31 + 7 * x + 13 * y) % 256) AS BIGINT) AS s
        |  FROM d, generate_series(0, 35) tx(x), generate_series(0, 31) ty(y)
        |  WHERE d.doc_id % 3 = 0 GROUP BY 1),
        |wav AS (
        |  SELECT d.doc_id,
        |    CAST(sum((d.cls * 131 + 37 * i) % 4001 - 2000) AS BIGINT) AS s
        |  FROM d, generate_series(0, 2047) t(i)
        |  WHERE d.doc_id % 3 = 1 GROUP BY 1),
        |mp4 AS (
        |  SELECT d.doc_id,
        |    CAST(sum(100 + (d.cls * 7 + 13 * i) % 200) AS BIGINT) AS s
        |  FROM d, unnest(range(200)) u(i)
        |  WHERE d.doc_id % 3 = 2 AND i < 32 + d.cls GROUP BY 1)
        |SELECT d.doc_id,
        |  CASE d.doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END
        |    AS format,
        |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 36 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 32 ELSE 0 END AS INTEGER) AS height,
        |  CAST(CASE d.doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2048
        |    ELSE 32 + d.cls END AS INTEGER) AS n_frames,
        |  CAST(CASE d.doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 256
        |    ELSE (16 * (512 + d.cls) + (16 + d.cls) * (1024 + d.cls)) * 1000
        |      // (1000 + 10 * d.cls) END AS BIGINT) AS duration_ms,
        |  COALESCE(png.s, wav.s, mp4.s) AS content_sum
        |FROM d LEFT JOIN png USING (doc_id) LEFT JOIN wav USING (doc_id)
        |  LEFT JOIN mp4 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "mm_header_parse" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
        |  CAST(16 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(9 + doc_id % 700 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 * (1 + doc_id % 2) ELSE 8 END AS INTEGER)
        |    AS bit_depth,
        |  CAST((CASE doc_id % 3 WHEN 1 THEN 13 ELSE 33 END) + doc_id % 50 AS INTEGER)
        |    AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Closed-form replay of the planted WAV/MP4 fields: k = doc_id//2
    // drives every formula; durations are floor divisions.

    "mm_av_header_parse" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN 'pcm' ELSE 'isom' END AS brand,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + (doc_id // 2) % 3) ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 0 END AS INTEGER) AS bits,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN ((1000 + (doc_id // 2) % 4000) * 1000) // (8000 * (1 + (doc_id // 2) % 3))
        |    ELSE ((3000 + (doc_id // 2) % 9000) * 1000) // (600 * (1 + (doc_id // 2) % 4))
        |  END AS BIGINT) AS duration_ms,
        |  CAST((CASE WHEN doc_id % 2 = 0 THEN 44 ELSE 140 END) + (doc_id // 2) % 7 AS INTEGER) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Closed-form replay of the parsed GIF animation metadata.
    "mm_gif_anim" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS cls FROM documents),
        |dl AS (
        |  SELECT d.doc_id,
        |    CAST(sum(10 + (d.cls * 3 + 7 * i) % 50) AS BIGINT) AS td
        |  FROM d, unnest(range(11)) u(i)
        |  WHERE i < 2 + d.doc_id % 9 GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(16 + d.doc_id % 100 AS INTEGER) AS width,
        |  CAST(9 + d.doc_id % 80 AS INTEGER) AS height,
        |  CAST(2 + d.doc_id % 9 AS INTEGER) AS n_frames,
        |  dl.td AS total_delay_cs,
        |  CAST(d.doc_id % 4 AS INTEGER) AS loop_count
        |FROM d JOIN dl USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Replay of the sampled REAL sample tables: start ticks of sample i
    // are i·d1 inside the first stts run (16 samples), then the d2 run.
    "mm_frame_sample" ->
      """WITH clips AS (SELECT doc_id, doc_id % 64 AS cls FROM documents),
        |fr AS (
        |  SELECT c.doc_id, c.cls, i,
        |    CASE WHEN i < 16 THEN i * (512 + c.cls)
        |         ELSE 16 * (512 + c.cls) + (i - 16) * (1024 + c.cls) END AS ticks
        |  FROM clips c, unnest(range(0, 200, 7)) u(i)
        |  WHERE i < 32 + c.cls)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(max(ticks * 1000 // (1000 + 10 * cls)) AS BIGINT) AS max_ts_ms,
        |  CAST(sum(100 + (cls * 7 + 13 * i) % 200) AS BIGINT) AS sum_frame_bytes
        |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Closed-form replay of the decoded pixels: the engine really
    // inflates + unfilters real PNGs; the oracle recomputes the pixel
    // law v(x,y) = (cls·31 + 7x + 13y) mod 256 arithmetically.

    "mm_png_decode" ->
      """WITH imgs AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |sums AS (
        |  SELECT i.doc_id,
        |    CAST(sum((i.cls * 31 + 7 * x + 13 * y) % 256) AS BIGINT) AS px_sum
        |  FROM imgs i, generate_series(0, 35) tx(x), generate_series(0, 31) ty(y)
        |  GROUP BY 1)
        |SELECT i.doc_id, CAST(36 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
        |  CAST(8 AS INTEGER) AS bit_depth, CAST(0 AS INTEGER) AS color_type,
        |  TRUE AS crc_ok, s.px_sum,
        |  CAST((i.cls * 31) % 256 AS INTEGER) AS px_first,
        |  CAST((i.cls * 31 + 7 * 18 + 13 * 16) % 256 AS INTEGER) AS px_mid,
        |  CAST((i.cls * 31 + 7 * 35 + 13 * 31) % 256 AS INTEGER) AS px_last
        |FROM imgs i JOIN sums s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Sequential replay of the streaming image funnel: per-law hash
    // tables, the real gate from per-law stats, batch-0 judgment
    // index growth (only batch-0 `new` join), batch-1 judgment.

    "pipe_image_stream" ->
      """WITH coef(law, m, a, b, md) AS (VALUES
        |  (0, 31, 7, 13, 256), (1, 37, 11, 17, 256),
        |  (2, 41, 19, 23, 256), (3, 1, 1, 1, 32)),
        |imgs AS (
        |  SELECT -1 AS batch, doc_id, doc_id % 64 AS cls, 0 AS law
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT 0, doc_id + 900000000, doc_id % 64, 1
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL SELECT 1, doc_id + 100000000, doc_id % 64, 0
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT 1, doc_id + 300000000, doc_id % 64, 1
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL SELECT 1, doc_id + 400000000, doc_id % 64, 2
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL SELECT 1, doc_id + 500000000, doc_id % 64, 2
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL SELECT 1, doc_id + 600000000, doc_id % 64, 3
        |  FROM documents WHERE doc_id % 37 = 0),
        |jp AS (
        |  SELECT doc_id + 700000000 AS doc_id, 1 + doc_id % 100 AS q
        |  FROM documents WHERE doc_id % 41 = 0),
        |lawcls AS (SELECT DISTINCT law, cls FROM imgs),
        |stats AS (
        |  SELECT lc.law, lc.cls,
        |    min((lc.cls * co.m + co.a * x + co.b * y) % co.md) AS mn,
        |    max((lc.cls * co.m + co.a * x + co.b * y) % co.md) AS mx,
        |    sum((lc.cls * co.m + co.a * x + co.b * y) % co.md) AS s,
        |    count(*) AS n
        |  FROM lawcls lc JOIN coef co ON co.law = lc.law,
        |       generate_series(0, 35) tx(x), generate_series(0, 31) ty(y)
        |  GROUP BY 1, 2),
        |keepq AS (
        |  SELECT law, cls,
        |    NOT (mn = mx OR s * 4 < n * 255 OR s * 4 > n * 765 OR mx - mn < 32)
        |      AS keep
        |  FROM stats),
        |bs AS (
        |  SELECT lc.law, lc.cls, bx, by,
        |    CAST(sum((lc.cls * co.m + co.a * (bx * 4 + dx)
        |      + co.b * (by * 4 + dy)) % co.md) AS BIGINT) AS s
        |  FROM lawcls lc JOIN coef co ON co.law = lc.law
        |    JOIN keepq k ON k.law = lc.law AND k.cls = lc.cls AND k.keep,
        |    generate_series(0, 8) tbx(bx), generate_series(0, 7) tby(by),
        |    generate_series(0, 3) tdx(dx), generate_series(0, 3) tdy(dy)
        |  GROUP BY 1, 2, 3, 4),
        |bits AS (
        |  SELECT a.law, a.cls, (a.by * 8 + a.bx) AS i,
        |    CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
        |  FROM bs a JOIN bs b ON b.law = a.law AND b.cls = a.cls
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |bands AS (
        |  SELECT law, cls, CAST(i // 16 AS INTEGER) AS band,
        |    CAST(sum(bit * (1 << (i % 16))) AS INTEGER) AS v
        |  FROM bits GROUP BY 1, 2, 3),
        |hv AS (
        |  SELECT i.batch, i.doc_id, b.band, b.v
        |  FROM imgs i
        |  JOIN keepq k ON k.law = i.law AND k.cls = i.cls AND k.keep
        |  JOIN bands b ON b.law = i.law AND b.cls = i.cls),
        |cand0 AS (
        |  SELECT DISTINCT b.doc_id AS img, a.doc_id AS tgt
        |  FROM hv b JOIN hv a ON a.band = b.band AND a.v = b.v
        |  WHERE b.batch = 0
        |    AND (a.batch = -1 OR (a.batch = 0 AND a.doc_id < b.doc_id))),
        |ham0 AS (
        |  SELECT c.img, c.tgt FROM cand0 c
        |  JOIN hv x ON x.doc_id = c.img
        |  JOIN hv y ON y.doc_id = c.tgt AND y.band = x.band
        |  GROUP BY 1, 2
        |  HAVING sum(bit_count(CAST(xor(x.v, y.v) AS BIGINT))) <= 3),
        |dup0 AS (SELECT img AS doc_id, min(tgt) AS dup_of FROM ham0 GROUP BY 1),
        |v0 AS (
        |  SELECT i.doc_id,
        |    CASE WHEN NOT k.keep THEN 'low_quality'
        |         WHEN d.dup_of IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
        |    CASE WHEN k.keep THEN d.dup_of END AS dup_of
        |  FROM imgs i
        |  JOIN keepq k ON k.law = i.law AND k.cls = i.cls
        |  LEFT JOIN dup0 d USING (doc_id)
        |  WHERE i.batch = 0),
        |adm0 AS (SELECT doc_id FROM v0 WHERE verdict = 'new'),
        |cand1 AS (
        |  SELECT DISTINCT b.doc_id AS img, a.doc_id AS tgt
        |  FROM hv b JOIN hv a ON a.band = b.band AND a.v = b.v
        |  WHERE b.batch = 1
        |    AND (a.batch = -1
        |      OR (a.batch = 0 AND a.doc_id IN (SELECT doc_id FROM adm0))
        |      OR (a.batch = 1 AND a.doc_id < b.doc_id))),
        |ham1 AS (
        |  SELECT c.img, c.tgt FROM cand1 c
        |  JOIN hv x ON x.doc_id = c.img
        |  JOIN hv y ON y.doc_id = c.tgt AND y.band = x.band
        |  GROUP BY 1, 2
        |  HAVING sum(bit_count(CAST(xor(x.v, y.v) AS BIGINT))) <= 3),
        |dup1 AS (SELECT img AS doc_id, min(tgt) AS dup_of FROM ham1 GROUP BY 1),
        |v1 AS (
        |  SELECT i.doc_id,
        |    CASE WHEN NOT k.keep THEN 'low_quality'
        |         WHEN d.dup_of IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
        |    CASE WHEN k.keep THEN d.dup_of END AS dup_of
        |  FROM imgs i
        |  JOIN keepq k ON k.law = i.law AND k.cls = i.cls
        |  LEFT JOIN dup1 d USING (doc_id)
        |  WHERE i.batch = 1)
        |SELECT CAST(0 AS INTEGER) AS batch_id, doc_id, verdict, dup_of FROM v0
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), doc_id, verdict, dup_of FROM v1
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), doc_id,
        |  CASE WHEN q >= 50 THEN 'new' ELSE 'low_quality' END,
        |  CAST(NULL AS BIGINT)
        |FROM jp
        |ORDER BY doc_id""".stripMargin,

    // Full replay of the image funnel: the pre-decode JPEG gate (ids
    // with doc_id % 19 = 0 carry IJG tables at quality 1 + doc_id % 100;
    // the estimator recovers exactly that q — the IJG family is
    // injective over q, certified by mm_jpeg_quality's full min-q-scan
    // replay — so the gate is q >= 50), then for the PNGs the per-image
    // pixel quality gate from the per-law stats, dHash bits/bands for
    // the keepers, band-join candidates, popcount verify, canonical
    // (min lower id) dup target.

    "pipe_image_funnel" ->
      """WITH imgs AS (
        |  SELECT doc_id, doc_id % 64 AS cls, doc_id % 17 = 0 AS dark
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 19 <> 0),
        |jpegs AS (
        |  SELECT doc_id, 1 + doc_id % 100 AS q FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 19 = 0),
        |stats AS (
        |  SELECT i.doc_id,
        |    min(CASE WHEN i.dark THEN (i.cls + x + y) % 32
        |        ELSE (i.cls * 31 + 7 * x + 13 * y) % 256 END) AS mn,
        |    max(CASE WHEN i.dark THEN (i.cls + x + y) % 32
        |        ELSE (i.cls * 31 + 7 * x + 13 * y) % 256 END) AS mx,
        |    sum(CASE WHEN i.dark THEN (i.cls + x + y) % 32
        |        ELSE (i.cls * 31 + 7 * x + 13 * y) % 256 END) AS s,
        |    count(*) AS n
        |  FROM imgs i, generate_series(0, 35) tx(x), generate_series(0, 31) ty(y)
        |  GROUP BY 1),
        |keep AS (
        |  SELECT doc_id,
        |    NOT (mn = mx OR s * 4 < n * 255 OR s * 4 > n * 765 OR mx - mn < 32)
        |      AS keep
        |  FROM stats),
        |kept AS (
        |  SELECT i.doc_id, i.cls, i.dark FROM imgs i JOIN keep k USING (doc_id)
        |  WHERE k.keep),
        |bs AS (
        |  SELECT k.doc_id, bx, by,
        |    CAST(sum(CASE WHEN k.dark
        |      THEN (k.cls + (bx * 4 + dx) + (by * 4 + dy)) % 32
        |      ELSE (k.cls * 31 + 7 * (bx * 4 + dx) + 13 * (by * 4 + dy)) % 256 END)
        |      AS BIGINT) AS s
        |  FROM kept k, generate_series(0, 8) tbx(bx), generate_series(0, 7) tby(by),
        |       generate_series(0, 3) tdx(dx), generate_series(0, 3) tdy(dy)
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.doc_id, (a.by * 8 + a.bx) AS i,
        |    CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
        |  FROM bs a JOIN bs b ON b.doc_id = a.doc_id AND b.by = a.by
        |    AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |bands AS (
        |  SELECT doc_id, CAST(i // 16 AS INTEGER) AS band,
        |    CAST(sum(bit * (1 << (i % 16))) AS INTEGER) AS v
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS img_a, b.doc_id AS img_b
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT c.img_a, c.img_b
        |  FROM cand c
        |  JOIN bands ha ON ha.doc_id = c.img_a
        |  JOIN bands hb ON hb.doc_id = c.img_b AND hb.band = ha.band
        |  GROUP BY 1, 2
        |  HAVING sum(bit_count(CAST(xor(ha.v, hb.v) AS BIGINT))) <= 3),
        |dupof AS (SELECT img_b AS doc_id, min(img_a) AS dup_of FROM ham GROUP BY 1)
        |SELECT k.doc_id,
        |  CASE WHEN NOT k.keep THEN 'low_quality'
        |       WHEN d.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END AS verdict,
        |  CASE WHEN k.keep THEN d.dup_of END AS dup_of
        |FROM keep k LEFT JOIN dupof d USING (doc_id)
        |UNION ALL
        |SELECT doc_id,
        |  CASE WHEN q >= 50 THEN 'kept' ELSE 'low_quality' END,
        |  CAST(NULL AS BIGINT)
        |FROM jpegs
        |ORDER BY doc_id""".stripMargin,

    // Closed-form replay of the parsed MP4 sample tables.
    "mm_mp4_samples" ->
      """WITH clips AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |sz AS (
        |  SELECT c.doc_id,
        |    CAST(sum(100 + (c.cls * 7 + 13 * i) % 200) AS BIGINT) AS total_bytes,
        |    CAST(max(100 + (c.cls * 7 + 13 * i) % 200) AS INTEGER) AS max_size
        |  FROM clips c, unnest(range(200)) u(i)
        |  WHERE i < 32 + c.cls
        |  GROUP BY 1)
        |SELECT c.doc_id,
        |  CAST(1000 + 10 * c.cls AS INTEGER) AS timescale,
        |  CAST(32 + c.cls AS INTEGER) AS n_samples,
        |  CAST(16 * (512 + c.cls) + (16 + c.cls) * (1024 + c.cls) AS BIGINT)
        |    AS total_duration,
        |  s.total_bytes, s.max_size
        |FROM clips c JOIN sz s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Full replay of the caption-alignment scoring: md5-basis caption
    // vectors, micro-unit image quantization, exact int64 dots, top-1.
    "mm_caption_align" ->
      """WITH caps AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |cv AS (
        |  SELECT c.doc_id, j,
        |    CAST(sum(CAST(CAST(('0x' || substr(md5(c.t[CAST(i AS INTEGER)]
        |        || ':' || CAST(j AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2001 - 1000) AS BIGINT) AS v
        |  FROM caps c, unnest(range(1, 9)) u(i), unnest(range(64)) w(j)
        |  WHERE i <= len(c.t)
        |  GROUP BY 1, 2),
        |qe AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(e[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |       generate_series(1, 64) t(i)),
        |vc AS (SELECT count(*) AS n FROM embeddings),
        |cand AS (
        |  SELECT c.doc_id, (c.doc_id + k * 7) % vc.n AS vec_id
        |  FROM (SELECT DISTINCT doc_id FROM caps) c, unnest(range(4)) kk(k), vc),
        |scored AS (
        |  SELECT ca.doc_id, ca.vec_id, CAST(sum(cv.v * qe.q) AS BIGINT) AS iscore
        |  FROM cand ca
        |  JOIN cv ON cv.doc_id = ca.doc_id
        |  JOIN qe ON qe.vec_id = ca.vec_id AND qe.i = cv.j + 1
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT doc_id, vec_id, iscore, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY iscore DESC, vec_id) AS r
        |  FROM scored)
        |SELECT doc_id, vec_id, iscore FROM ranked WHERE r = 1
        |ORDER BY doc_id""".stripMargin,

    // Full replay of the audio fingerprint dedup: block energies from
    // the sample law, cyclic difference bits, bands, popcount verify.
    "mm_audio_dedup" ->
      """WITH clips AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |clss AS (SELECT DISTINCT cls FROM clips),
        |en AS (
        |  SELECT cls, b,
        |    CAST(sum(((cls * 131 + 37 * (b * 32 + i)) % 4001 - 2000)
        |      * ((cls * 131 + 37 * (b * 32 + i)) % 4001 - 2000)) AS BIGINT) AS e
        |  FROM clss, generate_series(0, 63) tb(b), generate_series(0, 31) ti(i)
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.cls, a.b AS i,
        |    CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en n ON n.cls = a.cls AND n.b = (a.b + 1) % 64),
        |bands AS (
        |  SELECT cls, CAST(i // 16 AS INTEGER) AS band,
        |    CAST(sum(bit * (1 << (i % 16))) AS INTEGER) AS v
        |  FROM bits GROUP BY 1, 2),
        |hv AS (
        |  SELECT c.doc_id, b.band, b.v FROM clips c JOIN bands b ON b.cls = c.cls),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS img_a, b.doc_id AS img_b
        |  FROM hv a JOIN hv b
        |  ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT c.img_a, c.img_b,
        |    CAST(sum(bit_count(CAST(xor(ha.v, hb.v) AS BIGINT))) AS INTEGER) AS hamming
        |  FROM cand c
        |  JOIN hv ha ON ha.doc_id = c.img_a
        |  JOIN hv hb ON hb.doc_id = c.img_b AND hb.band = ha.band
        |  GROUP BY 1, 2)
        |SELECT img_a, img_b, hamming FROM ham
        |WHERE hamming <= 3 ORDER BY img_a, img_b""".stripMargin,

    // Full replay of the DQT quality estimation: the Annex K reference
    // tables as literals, libjpeg's scaling law (5000//q | 200-2q, then
    // clamp((b*s+50)//100, 1, 255)), the planted tables, their sums,
    // and the min-q exact-match scan over all 100 candidate qualities.
    "mm_jpeg_quality" ->
      """WITH base(i, lb, cb) AS (VALUES
        |  (0,16,17),(1,11,18),(2,10,24),(3,16,47),(4,24,99),(5,40,99),
        |  (6,51,99),(7,61,99),(8,12,18),(9,12,21),(10,14,26),(11,19,66),
        |  (12,26,99),(13,58,99),(14,60,99),(15,55,99),(16,14,24),
        |  (17,13,26),(18,16,56),(19,24,99),(20,40,99),(21,57,99),
        |  (22,69,99),(23,56,99),(24,14,47),(25,17,66),(26,22,99),
        |  (27,29,99),(28,51,99),(29,87,99),(30,80,99),(31,62,99),
        |  (32,18,99),(33,22,99),(34,37,99),(35,56,99),(36,68,99),
        |  (37,109,99),(38,103,99),(39,77,99),(40,24,99),(41,35,99),
        |  (42,55,99),(43,64,99),(44,81,99),(45,104,99),(46,113,99),
        |  (47,92,99),(48,49,99),(49,64,99),(50,78,99),(51,87,99),
        |  (52,103,99),(53,121,99),(54,120,99),(55,101,99),(56,72,99),
        |  (57,92,99),(58,95,99),(59,98,99),(60,112,99),(61,100,99),
        |  (62,103,99),(63,99,99)),
        |sf AS (
        |  SELECT CAST(q2 AS INTEGER) AS q2,
        |    CASE WHEN q2 < 50 THEN 5000 // q2 ELSE 200 - 2 * q2 END AS s
        |  FROM unnest(range(1, 101)) u(q2)),
        |docs AS (
        |  SELECT doc_id, CAST(1 + doc_id % 100 AS INTEGER) AS q FROM documents),
        |plant AS (
        |  SELECT d.doc_id, b.i,
        |    GREATEST(1, LEAST(255, (b.lb * sp.s + 50) // 100)) AS lt,
        |    GREATEST(1, LEAST(255, (b.cb * sp.s + 50) // 100)) AS ct
        |  FROM docs d JOIN sf sp ON sp.q2 = d.q, base b),
        |mtch AS (
        |  SELECT p.doc_id, sf.q2
        |  FROM plant p JOIN base b ON b.i = p.i, sf
        |  WHERE GREATEST(1, LEAST(255, (b.lb * sf.s + 50) // 100)) = p.lt
        |    AND GREATEST(1, LEAST(255, (b.cb * sf.s + 50) // 100)) = p.ct
        |  GROUP BY 1, 2 HAVING count(*) = 64),
        |est AS (
        |  SELECT doc_id, CAST(min(q2) AS INTEGER) AS est_quality
        |  FROM mtch GROUP BY 1),
        |sums AS (
        |  SELECT doc_id, CAST(sum(lt) AS INTEGER) AS luma_sum,
        |    CAST(sum(ct) AS INTEGER) AS chroma_sum
        |  FROM plant GROUP BY 1)
        |SELECT d.doc_id, e.est_quality, s.luma_sum, s.chroma_sum,
        |  CAST(2 AS INTEGER) AS n_tables
        |FROM docs d JOIN est e USING (doc_id) JOIN sums s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Closed-form replay of the decoded audio features.
    "mm_wav_features" ->
      """WITH clips AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |smp AS (
        |  SELECT doc_id, i, CAST((cls * 131 + 37 * i) % 4001 - 2000 AS BIGINT) AS s
        |  FROM clips, generate_series(0, 2047) t(i)),
        |agg AS (
        |  SELECT doc_id, CAST(max(abs(s)) AS INTEGER) AS peak_abs,
        |    CAST(sum(s * s) AS BIGINT) AS sum_sq, CAST(sum(s) AS BIGINT) AS dc_sum
        |  FROM smp GROUP BY 1),
        |zc AS (
        |  SELECT doc_id, count(*) AS n FROM (
        |    SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |    FROM smp) WHERE prev IS NOT NULL AND prev * s < 0
        |  GROUP BY 1)
        |SELECT a.doc_id, CAST(2048 AS INTEGER) AS n_samples, a.peak_abs,
        |  a.sum_sq, a.dc_sum,
        |  CAST(COALESCE(z.n, 0) AS INTEGER) AS zero_crossings
        |FROM agg a LEFT JOIN zc z USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Full replay of the audio funnel: per-law samples (clamp included),
    // peak gates, the envelope-DCT static gate through the shared
    // cosine CTEs, energy-difference bands for the keepers, band-join
    // candidates, popcount verify, canonical dup target.
    "pipe_audio_funnel" ->
      ("""WITH clips AS (
        |  SELECT doc_id, doc_id % 64 AS cls,
        |    CASE WHEN doc_id % 17 = 0 THEN 'silent'
        |         WHEN doc_id % 13 = 0 THEN 'clipped'
        |         WHEN doc_id % 11 = 0 THEN 'static' ELSE 'std' END AS law
        |  FROM documents WHERE doc_id % 5 = 0),
        |lawcls AS (SELECT DISTINCT law, cls FROM clips),
        |""".stripMargin + CosCtes + """,
        |smp AS (
        |  SELECT law, cls, i,
        |    CAST(CASE law
        |      WHEN 'silent' THEN (cls + i) % 200 - 100
        |      WHEN 'clipped' THEN GREATEST(-32768, LEAST(32767,
        |        ((cls * 131 + 37 * i) % 4001 - 2000) * 20))
        |      WHEN 'static' THEN cls % 97 + 500
        |      ELSE (cls * 131 + 37 * i) % 4001 - 2000 END AS BIGINT) AS s
        |  FROM lawcls, generate_series(0, 2047) t(i)),
        |pk AS (SELECT law, cls, max(abs(s)) AS peak FROM smp GROUP BY 1, 2),
        |en AS (
        |  SELECT law, cls, CAST(i // 32 AS INTEGER) AS b,
        |    CAST(sum(s * s) AS BIGINT) AS e
        |  FROM smp GROUP BY 1, 2, 3),
        |sp AS (
        |  SELECT en.law, en.cls, k, CAST(sum(en.e * ct.v) AS BIGINT) AS sv
        |  FROM en, generate_series(0, 15) tk(k), ct
        |  WHERE ct.m = ((2 * en.b + 1) * k) % 256
        |  GROUP BY 1, 2, 3),
        |g2 AS (
        |  SELECT law, cls, max(CASE WHEN k = 0 THEN sv END) AS s0,
        |    CAST(sum(CASE WHEN k >= 1 THEN abs(sv) ELSE 0 END) AS BIGINT) AS lowb
        |  FROM sp GROUP BY 1, 2),
        |gate AS (
        |  SELECT p.law, p.cls,
        |    CASE WHEN p.peak < 500 THEN 'silent'
        |         WHEN p.peak >= 32000 THEN 'clipped'
        |         WHEN g.lowb * 100 < g.s0 THEN 'static' ELSE 'ok' END AS gate
        |  FROM pk p JOIN g2 g USING (law, cls)),
        |bits AS (
        |  SELECT a.law, a.cls, a.b AS i,
        |    CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en n
        |    ON n.law = a.law AND n.cls = a.cls AND n.b = (a.b + 1) % 64),
        |bands AS (
        |  SELECT law, cls, CAST(i // 16 AS INTEGER) AS band,
        |    CAST(sum(bit * (1 << (i % 16))) AS INTEGER) AS v
        |  FROM bits GROUP BY 1, 2, 3),
        |hv AS (
        |  SELECT c.doc_id, b.band, b.v
        |  FROM clips c
        |  JOIN gate g ON g.law = c.law AND g.cls = c.cls AND g.gate = 'ok'
        |  JOIN bands b ON b.law = c.law AND b.cls = c.cls),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS img_a, b.doc_id AS img_b
        |  FROM hv a JOIN hv b
        |  ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT c.img_a, c.img_b FROM cand c
        |  JOIN hv x ON x.doc_id = c.img_a
        |  JOIN hv y ON y.doc_id = c.img_b AND y.band = x.band
        |  GROUP BY 1, 2
        |  HAVING sum(bit_count(CAST(xor(x.v, y.v) AS BIGINT))) <= 3),
        |dupof AS (SELECT img_b AS doc_id, min(img_a) AS dup_of FROM ham GROUP BY 1)
        |SELECT c.doc_id,
        |  CASE WHEN g.gate <> 'ok' THEN g.gate
        |       WHEN d.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END AS verdict,
        |  CASE WHEN g.gate = 'ok' THEN d.dup_of END AS dup_of
        |FROM clips c JOIN gate g ON g.law = c.law AND g.cls = c.cls
        |LEFT JOIN dupof d USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Full replay of the fixed-point DCT-II: block energies from the
    // sample law, the planted cosine basis reconstructed from its
    // quarter wave (65 literals + the symmetry fold — byte-identical
    // to AudioCodec.CosTab), exact int64 coefficient sums, band
    // magnitudes.
    "mm_audio_spectral" ->
      ("""WITH clips AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |clss AS (SELECT DISTINCT cls FROM clips),
        |""".stripMargin + CosCtes + """,
        |en AS (
        |  SELECT cls, b,
        |    CAST(sum(((cls * 131 + 37 * (b * 32 + i)) % 4001 - 2000)
        |      * ((cls * 131 + 37 * (b * 32 + i)) % 4001 - 2000)) AS BIGINT) AS e
        |  FROM clss, generate_series(0, 63) tb(b), generate_series(0, 31) ti(i)
        |  GROUP BY 1, 2),
        |sp AS (
        |  SELECT en.cls, k, CAST(sum(en.e * ct.v) AS BIGINT) AS s
        |  FROM en, generate_series(0, 63) tk(k), ct
        |  WHERE ct.m = ((2 * en.b + 1) * k) % 256
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT cls,
        |    max(CASE WHEN k = 0 THEN s END) AS s0,
        |    max(CASE WHEN k = 1 THEN s END) AS s1,
        |    max(CASE WHEN k = 2 THEN s END) AS s2,
        |    max(CASE WHEN k = 3 THEN s END) AS s3,
        |    CAST(sum(CASE WHEN k BETWEEN 1 AND 15 THEN abs(s) ELSE 0 END)
        |      AS BIGINT) AS low_band,
        |    CAST(sum(CASE WHEN k >= 48 THEN abs(s) ELSE 0 END) AS BIGINT)
        |      AS high_band
        |  FROM sp GROUP BY 1)
        |SELECT c.doc_id, a.s0, a.s1, a.s2, a.s3, a.low_band, a.high_band
        |FROM clips c JOIN agg a USING (cls) ORDER BY doc_id""".stripMargin),

    // Closed-form replay of the pixel-statistics quality gate.

    "mm_image_quality" ->
      """WITH imgs AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |px AS (
        |  SELECT i.doc_id,
        |    CAST(min((i.cls * 31 + 7 * x + 13 * y) % 256) AS INTEGER) AS px_min,
        |    CAST(max((i.cls * 31 + 7 * x + 13 * y) % 256) AS INTEGER) AS px_max,
        |    CAST(sum((i.cls * 31 + 7 * x + 13 * y) % 256) AS BIGINT) AS px_sum,
        |    CAST(count(*) AS INTEGER) AS n_px
        |  FROM imgs i, generate_series(0, 35) tx(x), generate_series(0, 31) ty(y)
        |  GROUP BY 1)
        |SELECT doc_id, px_min, px_max, px_sum, n_px,
        |  px_min = px_max AS solid,
        |  px_sum * 4 < CAST(n_px AS BIGINT) * 255 AS too_dark,
        |  px_sum * 4 > CAST(n_px AS BIGINT) * 765 AS too_bright,
        |  (px_max - px_min) < 32 AS low_contrast,
        |  NOT (px_min = px_max OR px_sum * 4 < CAST(n_px AS BIGINT) * 255
        |    OR px_sum * 4 > CAST(n_px AS BIGINT) * 765
        |    OR (px_max - px_min) < 32) AS keep
        |FROM px ORDER BY doc_id""".stripMargin,

    // Full replay of the perceptual-hash dedup: block sums from the
    // pixel law, every dHash bit, the 16-bit bands, the band-equality
    // candidate join, and the exact XOR-popcount Hamming verify.

    "mm_phash_dedup" ->
      """WITH imgs AS (
        |  SELECT doc_id, doc_id % 64 AS cls FROM documents WHERE doc_id % 5 = 0),
        |clss AS (SELECT DISTINCT cls FROM imgs),
        |bs AS (
        |  SELECT cls, bx, by,
        |    CAST(sum((cls * 31 + 7 * (bx * 4 + dx) + 13 * (by * 4 + dy)) % 256)
        |      AS BIGINT) AS s
        |  FROM clss, generate_series(0, 8) tbx(bx), generate_series(0, 7) tby(by),
        |       generate_series(0, 3) tdx(dx), generate_series(0, 3) tdy(dy)
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.cls, (a.by * 8 + a.bx) AS i,
        |    CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
        |  FROM bs a JOIN bs b ON b.cls = a.cls AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |bands AS (
        |  SELECT cls, CAST(i // 16 AS INTEGER) AS band,
        |    CAST(sum(bit * (1 << (i % 16))) AS INTEGER) AS v
        |  FROM bits GROUP BY 1, 2),
        |hv AS (
        |  SELECT i.doc_id, b.band, b.v FROM imgs i JOIN bands b ON b.cls = i.cls),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS img_a, b.doc_id AS img_b
        |  FROM hv a JOIN hv b
        |  ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT c.img_a, c.img_b,
        |    CAST(sum(bit_count(CAST(xor(ha.v, hb.v) AS BIGINT))) AS INTEGER) AS hamming
        |  FROM cand c
        |  JOIN hv ha ON ha.doc_id = c.img_a
        |  JOIN hv hb ON hb.doc_id = c.img_b AND hb.band = ha.band
        |  GROUP BY 1, 2)
        |SELECT img_a, img_b, hamming FROM ham
        |WHERE hamming <= 3 ORDER BY img_a, img_b""".stripMargin,
  )
}
