package graft.analytics

import graft.{Overlap, Pins}
import graft.Pins._
import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Multimodal.MediaRecord

/**
 * Real PNG pixel decode + perceptual-hash image dedup — the multimodal
 * family's first actual codec (the header-parse entries stop at the
 * IHDR; this decodes pixels).
 *
 * The decoder is pure JVM against the public PNG specification (RFC
 * 2083 / W3C PNG): signature, chunk walk with CRC-32 validation, IDAT
 * concatenation, zlib inflate (`java.util.zip.Inflater`), and the five
 * scanline filters (None/Sub/Up/Average/Paeth) reversed per spec §6.
 * Greyscale 8-bit (color type 0) is the supported layout — the shape the
 * synthetic corpus and the perceptual hashes need; other layouts fail
 * loudly rather than decode wrong.
 *
 * The encoder exists to synthesize test corpora with all five filter
 * types exercised (scanline y uses filter y % 5). Both directions are
 * cross-validated in PngCodecSpec against the JDK's independent ImageIO
 * PNG codec, so an encoder/decoder bug pair cannot cancel out.
 */
object PngCodec {

  private val Signature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  // ------------------------------------------------------------ encode

  /** Write one chunk: length, type, payload, CRC-32 over type+payload. */
  private def chunk(out: ByteArrayOutputStream, typ: String, payload: Array[Byte]): Unit = {
    def be32(v: ByteArrayOutputStream, x: Long): Unit = {
      v.write(((x >> 24) & 0xff).toInt); v.write(((x >> 16) & 0xff).toInt)
      v.write(((x >> 8) & 0xff).toInt); v.write((x & 0xff).toInt)
    }
    be32(out, payload.length.toLong)
    val t = typ.getBytes("US-ASCII")
    out.write(t, 0, 4)
    out.write(payload, 0, payload.length)
    val crc = new CRC32
    crc.update(t); crc.update(payload)
    be32(out, crc.getValue)
  }

  /** Encode an 8-bit greyscale image as a real PNG. Scanline `y` is
    * written with filter type `y % 5`, so a decode of any image taller
    * than 4 rows exercises every filter in the spec. */
  def encodeGray(width: Int, height: Int, px: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0)
    val raw = new Array[Byte](height * (1 + width))
    var pos = 0
    var y = 0
    while (y < height) {
      val ft = y % 5
      raw(pos) = ft.toByte; pos += 1
      var x = 0
      while (x < width) {
        val cur = px(x, y) & 0xff
        val left = if (x > 0) px(x - 1, y) & 0xff else 0
        val up = if (y > 0) px(x, y - 1) & 0xff else 0
        val ul = if (x > 0 && y > 0) px(x - 1, y - 1) & 0xff else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        raw(pos) = (f & 0xff).toByte; pos += 1
        x += 1
      }
      y += 1
    }
    val defl = new Deflater(Deflater.DEFAULT_COMPRESSION)
    defl.setInput(raw); defl.finish()
    val zout = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()

    val out = new ByteArrayOutputStream()
    out.write(Signature, 0, Signature.length)
    val ihdr = new ByteArrayOutputStream()
    def be32(v: Int): Unit = {
      ihdr.write((v >> 24) & 0xff); ihdr.write((v >> 16) & 0xff)
      ihdr.write((v >> 8) & 0xff); ihdr.write(v & 0xff)
    }
    be32(width); be32(height)
    ihdr.write(8) // bit depth
    ihdr.write(0) // color type: greyscale
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate, adaptive, no interlace
    chunk(out, "IHDR", ihdr.toByteArray)
    chunk(out, "IDAT", zout.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** The Paeth predictor, PNG spec §6.6 — exact integer form. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  // ------------------------------------------------------------ decode

  /** A decoded greyscale image. `crcOk` is true only if EVERY chunk's
    * stored CRC-32 matched its recomputed value. */
  final case class PngImage(width: Int, height: Int, bitDepth: Int,
      colorType: Int, crcOk: Boolean, pixels: Array[Int])

  /** Decode a greyscale-8 PNG: chunk walk + CRC validation + inflate +
    * unfilter. Throws on non-PNG input or unsupported layouts. */
  def decodeGray(b: Array[Byte]): PngImage = {
    require(b.length > 8 && (0 until 8).forall(i => b(i) == Signature(i)), "not a PNG")
    def u8(i: Int) = b(i) & 0xff
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    var pos = 8
    var width = 0; var height = 0; var bitDepth = 0; var colorType = 0
    var crcOk = true
    val idat = new ByteArrayOutputStream()
    var done = false
    while (!done && pos + 8 <= b.length) {
      val len = be32(pos)
      val typ = new String(b, pos + 4, 4, "US-ASCII")
      // len >= 0 first: a high-bit length field reads as negative and
      // would pass the truncation bound via negative arithmetic
      require(len >= 0 && pos + 12 + len <= b.length, s"truncated chunk $typ")
      val crc = new CRC32
      crc.update(b, pos + 4, 4 + len)
      if (crc.getValue != (be32(pos + 8 + len).toLong & 0xffffffffL)) crcOk = false
      typ match {
        case "IHDR" =>
          width = be32(pos + 8); height = be32(pos + 12)
          bitDepth = u8(pos + 16); colorType = u8(pos + 17)
          // dims are attacker-controlled: bound them BEFORE the
          // height*(1+width) allocation so a crafted header claiming huge
          // (or high-bit-negative) dims rejects cleanly instead of
          // triggering a multi-GB allocation or an overflowed short buffer
          require(width > 0 && height > 0 &&
              width <= (1 << 15) && height <= (1 << 15),
            s"PNG dims out of range: ${width}x$height")
          require(bitDepth == 8 && colorType == 0,
            s"unsupported PNG layout: depth=$bitDepth color=$colorType (greyscale-8 only)")
          require(u8(pos + 20) == 0, "interlaced PNG unsupported")
        case "IDAT" => idat.write(b, pos + 8, len)
        case "IEND" => done = true
        case _      => () // ancillary chunk: skipped (CRC still checked)
      }
      pos += 12 + len
    }
    require(width > 0 && height > 0, "missing IHDR")
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    val raw = new Array[Byte](height * (1 + width))
    var off = 0
    var stalled = false
    while (!inf.finished() && off < raw.length && !stalled) {
      val n = inf.inflate(raw, off, raw.length - off)
      // a truncated/corrupt stream yields 0 with the inflater asking for
      // more input — fail loudly instead of spinning
      if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
      off += n
    }
    inf.end()
    require(off == raw.length, s"short IDAT stream: $off of ${raw.length}")

    val px = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val ft = raw(y * (1 + width)) & 0xff
      var x = 0
      while (x < width) {
        val f = raw(y * (1 + width) + 1 + x) & 0xff
        val left = if (x > 0) px(y * width + x - 1) else 0
        val up = if (y > 0) px((y - 1) * width + x) else 0
        val ul = if (x > 0 && y > 0) px((y - 1) * width + x - 1) else 0
        val v = ft match {
          case 0 => f
          case 1 => f + left
          case 2 => f + up
          case 3 => f + (left + up) / 2
          case 4 => f + paeth(left, up, ul)
          case other => sys.error(s"bad filter type $other")
        }
        px(y * width + x) = v & 0xff
        x += 1
      }
      y += 1
    }
    PngImage(width, height, bitDepth, colorType, crcOk, px)
  }

  // ----------------------------------------------- synthetic corpus

  /** Deterministic pixel law for the synthetic corpus: images are keyed
    * by a CLASS (not the doc id), so distinct docs in the same class are
    * exact pixel duplicates — the planted positives the perceptual-hash
    * dedup must find. `v(x, y) = (class·31 + 7x + 13y) mod 256` keeps
    * every pixel closed-form recomputable by the oracle. */
  def classPixel(cls: Long, x: Int, y: Int): Int =
    ((cls * 31 + 7L * x + 13L * y) % 256).toInt

  val SynthW = 36
  val SynthH = 32

  /** Real PNGs over the synthetic pixel law, one per input id, class =
    * id % `classes`. Narrow mapPartitions — the per-partition init point
    * a real encoder farm would use. */
  def synthPngMedia(ids: Dataset[java.lang.Long], classes: Int = 64)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val cls = id.longValue % classes
        MediaRecord(id.longValue, "image/png",
          encodeGray(SynthW, SynthH, (x, y) => classPixel(cls, x, y)))
      }
    }
  }

  /** Second and third pixel laws for the streaming funnel's fresh
    * content families — same closed-form shape, different coefficients,
    * so different-law images share no structure. */
  def classPixelB(cls: Long, x: Int, y: Int): Int =
    ((cls * 37 + 11L * x + 17L * y) % 256).toInt
  def classPixelC(cls: Long, x: Int, y: Int): Int =
    ((cls * 41 + 19L * x + 23L * y) % 256).toInt

  /** Real PNGs over an arbitrary pixel law, class = id % `classes`. */
  def synthMediaWithLaw(ids: Dataset[java.lang.Long],
      law: (Long, Int, Int) => Int, classes: Int = 64)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val cls = id.longValue % classes
        MediaRecord(id.longValue, "image/png",
          encodeGray(SynthW, SynthH, (x, y) => law(cls, x, y)))
      }
    }
  }

  /** Dark-image pixel law for the funnel's planted low-quality class:
    * `(cls + x + y) mod 32` — mean ≈ 15.5, far under the brightness
    * floor, so the REAL quality gate must reject these after decode. */
  def darkPixel(cls: Long, x: Int, y: Int): Int =
    ((cls + x + y) % 32).toInt

  /** Funnel corpus: ids with `id % 19 == 0` are JPEGs (IJG quality
    * `1 + id % 100` planted in their DQT tables — the pre-decode gate's
    * input; takes precedence over the dark law), ids with `id % 17 ==
    * 0` get the dark pixel law (planted post-decode quality rejects),
    * everyone else the standard class law (planted duplicates via
    * shared classes). PNGs are real PNGs, JPEGs real DQT+SOF headers. */
  def synthFunnelMedia(ids: Dataset[java.lang.Long], classes: Int = 64)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val cls = id.longValue % classes
        if (id.longValue % 19 == 0)
          MediaRecord(id.longValue, "image/jpeg",
            JpegDqt.jpegBytes(1 + (id.longValue % 100).toInt, SynthW, SynthH))
        else {
          val px: (Int, Int) => Int =
            if (id.longValue % 17 == 0) (x, y) => darkPixel(cls, x, y)
            else (x, y) => classPixel(cls, x, y)
          MediaRecord(id.longValue, "image/png", encodeGray(SynthW, SynthH, px))
        }
      }
    }
  }

  /** One graded row per image: JPEGs are graded PRE-decode from their
    * DQT tables (no inflate, no pixels); PNGs pay the decode and carry
    * gate verdict + dHash bands. */
  final case class GradedMedia(doc_id: Long, is_jpeg: Boolean, keep: Boolean,
      b0: Int, b1: Int, b2: Int, b3: Int)

  /** The shared grading kernel of BOTH image funnels (batch and
    * streaming): ONE decode per image — JPEG payloads gate on their
    * DQT-estimated IJG quality before any inflate; PNGs decode, gate on
    * pixel stats + CRC, and carry dHash bands when kept. A single
    * definition so the two funnels can never diverge on a gate fix or a
    * threshold. */
  def gradeMedia(media: Dataset[MediaRecord], jpegMinQuality: Int)(
      implicit spark: SparkSession): Dataset[GradedMedia] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val b = r.media
        if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
          val q = JpegDqt.estimateQuality(b)
          GradedMedia(r.doc_id, is_jpeg = true, keep = q >= jpegMinQuality,
            0, 0, 0, 0)
        } else {
          val img = decodeGray(b)
          // a corrupt PNG whose IDAT still inflates must not be gated
          // and hashed as valid pixels: CRC failure joins the reject path
          val keep = img.crcOk && keepOf(img)
          val bands = if (keep) dHashOf(img) else new Array[Int](4)
          GradedMedia(r.doc_id, is_jpeg = false, keep,
            bands(0), bands(1), bands(2), bands(3))
        }
      }
    }
  }

  /**
   * The image-curation funnel — pre-decode JPEG quality gate → decode →
   * pixel-quality gate → perceptual-hash dedup, one verdict per image:
   * `low_quality` (a JPEG whose DQT-estimated IJG quality is under
   * `jpegMinQuality` — rejected BEFORE any pixel decode — or a PNG the
   * REAL pixel gate rejected after decode), `dup` (a band-sharing PNG
   * keeper with a lower doc_id sits within `maxHamming`; `dup_of` = the
   * smallest such id), else `kept`. The multimodal analogue of the
   * crawl-ladder text funnel; the JPEG leg is the cheap reject a
   * crawl-dominant (JPEG-heavy) corpus takes first, exactly so the
   * expensive decode never runs on junk.
   */
  def imageFunnel(media: Dataset[MediaRecord], maxHamming: Int = 3,
      jpegMinQuality: Int = 50)(implicit spark: SparkSession): DataFrame = {
    // ONE decode per image (gate + hash together), pinned so the
    // downstream band joins re-scan hashes, never re-inflate PNGs;
    // JPEGs skip the decode entirely (DQT walk only)
    val gh = gradeMedia(media, jpegMinQuality).toDF().pinned()
    val quality = gh.select(col("doc_id"), col("keep"))
    val hashes = gh.where(col("keep") && !col("is_jpeg"))
      .select("doc_id", "b0", "b1", "b2", "b3")
    val pairs = phashDedup(hashes, maxHamming)
    val dupOf = pairs.groupBy(col("img_b").as("doc_id"))
      .agg(min(col("img_a")).as("dup_of"))
    quality.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("keep"), lit("low_quality"))
          .when(col("dup_of").isNotNull, lit("dup"))
          .otherwise(lit("kept")).as("verdict"),
        when(col("keep"), col("dup_of")).as("dup_of"))
  }

  /** Seed the standing perceptual-hash index with a corpus (`batch=-1`)
    * — the [[Dedup.initIncrementalState]] analogue. The corpus passes
    * the SAME pixel-quality gate the stream applies to its batches, so
    * a gate-rejected corpus image can never sit in the index (the
    * oracle models the seed index as gated). */
  def initImageState(corpus: Dataset[MediaRecord], stateDir: String)(
      implicit spark: SparkSession): Unit =
    gateAndHash(corpus).toDF()
      .where(col("keep")).select("doc_id", "b0", "b1", "b2", "b3")
      .write.mode("overwrite").parquet(s"$stateDir/hashes/batch=-1")

  /**
   * The image funnel as a continuous query with a GROWING hash index —
   * the multimodal analogue of [[Dedup.incrementalNearDupsStream]]:
   * each micro-batch decodes its PNGs, gates on pixel quality, probes
   * the standing dHash index (plus lower-id batchmates), and the images
   * it judges `new` join the index — so a later batch's pixel-copy of
   * an earlier batch's accepted image is `dup` OF that image (the
   * growing state is the semantics; a per-arrival batch operator would
   * call it `new`).
   *
   * Same idempotence discipline as the other streaming twins: state and
   * output land in `batch=N` partitions with overwrite mode, reads
   * filter `batch < current`, so a replayed micro-batch sees exactly
   * its pre-batch state. Per-batch work: the index is probed through
   * band-equality joins only (batch bands semi-join the standing index
   * first), never aggregated whole.
   */
  def imageFunnelStream(batches: DataFrame, stateDir: String, outDir: String,
      ckptDir: String, maxHamming: Int = 3, maxBucket: Int = 10000,
      jpegMinQuality: Int = 50): org.apache.spark.sql.streaming.StreamingQuery =
    Pins.eachBatch(batches, ckptDir) { (scope, batch, batchId) =>
      implicit val s: SparkSession = batch.sparkSession
      import s.implicits._
      val media = batch.select(col("doc_id"), col("mime"), col("media"))
        .as[MediaRecord]
      // ONE decode per image (gate + hash together), pinned once;
      // JPEGs take the pre-decode DQT quality gate (the batch funnel's
      // gradeMedia kernel): sub-quality rejects, keepers are `new` but
      // never hash and never join the index (no pixels to hash)
      val gh = scope.pin(gradeMedia(media, jpegMinQuality).toDF())
      val quality = gh.select(col("doc_id"), col("keep"))
      val hashes = gh.where(col("keep") && !col("is_jpeg"))
        .select("doc_id", "b0", "b1", "b2", "b3")
      def banded(h: DataFrame): DataFrame =
        h.select(col("doc_id"), posexplode(array(
          col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band_id", "bv")))
      val batchBanded = banded(hashes)
      val prior = s.read.parquet(s"$stateDir/hashes")
        .where(col("batch") < batchId).drop("batch")
      // probe-scoped: only standing-index rows in buckets this batch
      // touches enter the join (verdict-identical; batch-scale work)
      val priorBanded = Dedup.capBuckets(
        banded(prior).join(
          batchBanded.select("band_id", "bv").distinct(),
          Seq("band_id", "bv"), "left_semi"),
        Seq("band_id", "bv"), maxBucket)
      val candPrior = priorBanded.select(col("doc_id").as("img_a"),
          col("band_id"), col("bv"))
        .join(batchBanded.select(col("doc_id").as("img_b"),
          col("band_id"), col("bv")), Seq("band_id", "bv"))
      val candIntra = batchBanded.alias("a").join(batchBanded.alias("b"),
          col("a.band_id") === col("b.band_id") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("img_a"), col("b.doc_id").as("img_b"))
      val cand = candPrior.select("img_a", "img_b")
        .unionByName(candIntra).distinct()
      val all = prior.unionByName(hashes)
      val pa = all.select(col("doc_id").as("img_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
      val pb = hashes.select(col("doc_id").as("img_b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
      val dupOf = cand.join(pa, "img_a").join(pb, "img_b")
        .where((bit_count(col("a0").bitwiseXOR(col("c0"))) +
          bit_count(col("a1").bitwiseXOR(col("c1"))) +
          bit_count(col("a2").bitwiseXOR(col("c2"))) +
          bit_count(col("a3").bitwiseXOR(col("c3")))) <= maxHamming)
        .groupBy(col("img_b").as("doc_id"))
        .agg(min(col("img_a")).as("dup_of"))
      // Pin the verdicts: the dup-judgment DAG evaluates ONCE and both
      // the output write and the index growth read the pin.
      val verdicts = scope.pin(quality.join(dupOf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("keep"), lit("low_quality"))
            .when(col("dup_of").isNotNull, lit("dup"))
            .otherwise(lit("new")).as("verdict"),
          when(col("keep"), col("dup_of")).as("dup_of")))
      val admitted = verdicts.where(col("verdict") === "new").select("doc_id")
      Overlap.both(
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId"),
        hashes.join(admitted, "doc_id")
          .write.mode("overwrite").parquet(s"$stateDir/hashes/batch=$batchId"))
    }

  /** Decoded-pixel summary row: closed-form checkable stats per image. */
  final case class PngStats(doc_id: Long, width: Int, height: Int,
      bit_depth: Int, color_type: Int, crc_ok: Boolean,
      px_sum: Long, px_first: Int, px_mid: Int, px_last: Int)

  /** Decode every payload and reduce to oracle-checkable pixel stats —
    * full inflate + unfilter per row, narrow, no shuffle. */
  def decodeStats(media: Dataset[MediaRecord])(
      implicit spark: SparkSession): Dataset[PngStats] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img = decodeGray(r.media)
        var s = 0L; var i = 0
        while (i < img.pixels.length) { s += img.pixels(i); i += 1 }
        PngStats(r.doc_id, img.width, img.height, img.bitDepth, img.colorType,
          img.crcOk, s, img.pixels(0),
          img.pixels(img.height / 2 * img.width + img.width / 2),
          img.pixels(img.pixels.length - 1))
      }
    }
  }

  /** Image-quality gate row: the pixel-statistics filters a multimodal
    * training pipeline runs after decode (LAION-style): brightness
    * bounds, contrast floor, solid-color rejection. All integer —
    * comparisons are cross-multiplied (`sum·4 < n·255` for mean < 63.75)
    * so no division enters the verdict. */
  final case class ImageQuality(doc_id: Long, px_min: Int, px_max: Int,
      px_sum: Long, n_px: Int, solid: Boolean, too_dark: Boolean,
      too_bright: Boolean, low_contrast: Boolean, keep: Boolean)

  /** Decode and grade every image — the filter pass between decode and
    * embedding in an image-corpus pipeline. Narrow, no shuffle. */
  def qualityStats(media: Dataset[MediaRecord])(
      implicit spark: SparkSession): Dataset[ImageQuality] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img = decodeGray(r.media)
        var mn = 255; var mx = 0; var s = 0L
        var i = 0
        while (i < img.pixels.length) {
          val v = img.pixels(i)
          if (v < mn) mn = v
          if (v > mx) mx = v
          s += v; i += 1
        }
        val n = img.pixels.length
        val solid = mn == mx
        val tooDark = s * 4 < n.toLong * 255    // mean < 63.75
        val tooBright = s * 4 > n.toLong * 765  // mean > 191.25
        val lowContrast = (mx - mn) < 32
        ImageQuality(r.doc_id, mn, mx, s, n, solid, tooDark, tooBright,
          lowContrast, !(solid || tooDark || tooBright || lowContrast))
      }
    }
  }

  // ------------------------------------------------- perceptual hash

  /** dHash band row: the 64-bit difference hash split into four 16-bit
    * bands (b0..b3), kept as separate non-negative ints so band joins
    * and XOR popcounts stay exact in any engine. */
  final case class DHashBands(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /**
   * dHash (difference hash) over the decoded pixels: average the image
   * into a 9×8 block grid, emit bit (x, y) = 1 iff block(x+1, y) sum >
   * block(x, y) sum (equal block sizes, so sums compare without
   * division — exact integers end to end). Bit index `i = y·8 + x`
   * lands in band `i div 16` at position `i mod 16`.
   */
  /** The dHash band values of a decoded image (see [[dHash]]). */
  private def dHashOf(img: PngImage): Array[Int] = {
    val bw = img.width / 9; val bh = img.height / 8
    require(bw > 0 && bh > 0, s"image too small for 9x8 grid: ${img.width}x${img.height}")
    val sums = Array.ofDim[Long](9, 8)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 9) {
        var s = 0L
        var dy = 0
        while (dy < bh) {
          var dx = 0
          while (dx < bw) {
            s += img.pixels((by * bh + dy) * img.width + (bx * bw + dx))
            dx += 1
          }
          dy += 1
        }
        sums(bx)(by) = s
        bx += 1
      }
      by += 1
    }
    val bands = new Array[Int](4)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val i = y * 8 + x
        if (sums(x + 1)(y) > sums(x)(y)) bands(i / 16) |= 1 << (i % 16)
        x += 1
      }
      y += 1
    }
    bands
  }

  /** The pixel-quality `keep` verdict of a decoded image (the
    * [[qualityStats]] rule — shared so the funnels decide from the same
    * decode that hashes). */
  private def keepOf(img: PngImage): Boolean = {
    var mn = 255; var mx = 0; var s = 0L
    var i = 0
    while (i < img.pixels.length) {
      val v = img.pixels(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      s += v; i += 1
    }
    val n = img.pixels.length
    !(mn == mx || s * 4 < n.toLong * 255 || s * 4 > n.toLong * 765 || (mx - mn) < 32)
  }

  def dHash(media: Dataset[MediaRecord])(
      implicit spark: SparkSession): Dataset[DHashBands] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val bands = dHashOf(decodeGray(r.media))
        DHashBands(r.doc_id, bands(0), bands(1), bands(2), bands(3))
      }
    }
  }

  /** Gate verdict + (for keepers) dHash bands from ONE decode per image
    * — the funnel's dominant cost is inflate+unfilter, so the combined
    * kernel halves it versus running [[qualityStats]] and [[dHash]] as
    * separate passes. Rejected images carry zero bands and never reach
    * the hash joins. */
  final case class GatedHash(doc_id: Long, keep: Boolean,
      b0: Int, b1: Int, b2: Int, b3: Int)

  def gateAndHash(media: Dataset[MediaRecord])(
      implicit spark: SparkSession): Dataset[GatedHash] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img = decodeGray(r.media)
        // a corrupt PNG whose IDAT still inflates must not be gated and
        // hashed as valid pixels: CRC failure joins the reject path
        val keep = img.crcOk && keepOf(img)
        val bands = if (keep) dHashOf(img) else new Array[Int](4)
        GatedHash(r.doc_id, keep, bands(0), bands(1), bands(2), bands(3))
      }
    }
  }

  /**
   * Hamming-bucketed image dedup over dHash bands — the SimHash banding
   * design applied to pixels: a pair is a CANDIDATE iff at least one of
   * its four 16-bit bands matches exactly (any pair within Hamming
   * distance 3 is guaranteed ≥ 1 clean band), then candidates verify
   * with the exact Hamming distance (XOR popcount per band, summed) and
   * pairs over `maxHamming` drop. Four band-equality shuffles of the
   * hash table — never an all-pairs product; hot buckets are capped the
   * same way the SimHash path caps them.
   */
  def phashDedup(hashes0: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    // pin once: the four band joins + both verify sides re-scan this
    // table six times, and recomputing a decode-backed input per scan
    // would re-inflate every image per scan
    val hashes = hashes0.pinned()
    val bandCols = Seq("b0", "b1", "b2", "b3")
    val cand = bandCols.zipWithIndex.map { case (bc, bi) =>
      val banded = Dedup.capBuckets(
        hashes.select(col("doc_id"), col(bc)), Seq(bc), maxBucket)
      banded.as("a").join(banded.as("b"),
          col(s"a.$bc") === col(s"b.$bc") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("img_a"), col("b.doc_id").as("img_b"))
    }.reduce(_ unionByName _).distinct()
    val h = hashes
    val pa = h.select(col("doc_id").as("img_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val pb = h.select(col("doc_id").as("img_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(pa, "img_a").join(pb, "img_b")
      .withColumn("hamming",
        (bit_count(col("a0").bitwiseXOR(col("c0"))) +
          bit_count(col("a1").bitwiseXOR(col("c1"))) +
          bit_count(col("a2").bitwiseXOR(col("c2"))) +
          bit_count(col("a3").bitwiseXOR(col("c3")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("img_a", "img_b", "hamming")
  }
}
