package graft.operators

import graft.functions.Hashing
import graft.vision.PixelKernel
import graft.vision.PixelKernel.Rgb
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The mm_pixels surface: REAL pixel decode → letterbox global view →
  * tiles → normalization, driver-verified end-to-end.
  *
  * A deterministic 1-in-8 subset of the media items carries a rule-
  * generated RGB image (pixel values are closed-form functions of
  * (x, y, ref)), encoded as a REAL compressed PNG (zlib IDAT, all five
  * row filters in rotation, true CRCs) executor-side, then run through
  * the pixel pipeline the reference applies to every image
  * (vision.prepare_inputs): decode → dynamic-ratio resize + tile crops
  * (preprocess.rs:51-76) → letterboxed global view (model/mod.rs:
  * 1718-1741) → (v/255−0.5)/0.5 CHW normalization (model/mod.rs:
  * 1743-1761). Scaled geometry (16-px tiles/base vs the reference's 640)
  * keeps the DuckDB replay tractable; every algorithm is the full-size
  * one.
  *
  * The oracle replays EVERYTHING from the pixel rule: tile checksums in
  * closed form, and the global view through the same fixed-point bicubic
  * convolution (22-bit weights, per-pass clipping) using weight tables
  * embedded into the SQL at build time from [[PixelKernel.computeCoeffs]]
  * — the tables are shared spec constants; the decode, convolution,
  * letterbox arithmetic, orderings and checksums are computed
  * independently on each side.
  *
  * Scale shape: one narrow mapPartitions kernel per item — encode +
  * decode + resample are per-row CPU work, no shuffle, no driver state.
  */
object PixelOps {

  val TileSize = 16
  val BaseSize = 16
  /** 1-in-N media-item subset carrying pixel payloads. */
  val SubsetMod = 8

  def ratioW(ref: String): Int = (Hashing.md5i(s"prw|$ref") % 2L + 1L).toInt
  def ratioH(ref: String): Int = (Hashing.md5i(s"prh|$ref") % 2L + 1L).toInt

  /** Closed-form rule pixels (x right, y down, interleaved RGB):
    * r = (7x+13y+s) mod 256, g = (11x+3y+2s) mod 256, b = (x+y+3s) mod 256
    * with s = md5i("px|ref") mod 251. Linear in (x, y) so the oracle can
    * generate any crop without materializing images.
    */
  def rulePixels(ref: String, w: Int, h: Int): Rgb = {
    val s = (Hashing.md5i(s"px|$ref") % 251L).toInt
    val data = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        data(i) = ((7 * x + 13 * y + s) % 256).toByte
        data(i + 1) = ((11 * x + 3 * y + 2 * s) % 256).toByte
        data(i + 2) = ((x + y + 3 * s) % 256).toByte
        x += 1
      }
      y += 1
    }
    Rgb(w, h, data)
  }

  final case class PixelPart(media_ref: String, part: String, width: Long,
                             height: Long, pix_fp: Long, norm_fp: Long)

  /** Shared per-image pipeline: rule → PNG encode → REAL decode (inflate
    * + unfilter) → ratio resize + tile crops + letterboxed global view →
    * per-part checksums. Both geometries (scaled test, reference) are
    * instances with different sizes and checksum fns.
    */
  private def process(ref: String, tile: Int, base: Int, rw: Int, rh: Int,
                      pixFp: Rgb => Long, normFp: Rgb => Long): Seq[PixelPart] = {
    val src = rulePixels(ref, tile * rw, tile * rh)
    val dec = PixelKernel.decodePng(PixelKernel.encodePng(src, y => y % 5))
    val ratioSized = PixelKernel.resizeBicubic(dec, tile * rw, tile * rh)
    val tiles = PixelKernel.cropTiles(ratioSized, tile)
    val global = PixelKernel.buildGlobalView(dec, base)
    val tileParts = tiles.zipWithIndex.map { case (t, i) =>
      PixelPart(ref, s"tile_$i", t.w.toLong, t.h.toLong, pixFp(t), normFp(t))
    }
    tileParts :+ PixelPart(ref, "global", global.w.toLong, global.h.toLong,
      pixFp(global), normFp(global))
  }

  /** Fixed-point bicubic taps for the given (in, out) size pairs, as SQL
    * VALUES rows (insz, outsz, oi, si, w) — nonzero weights only; shared
    * spec constants embedded into the oracle at build time.
    */
  private def coeffValues(pairs: Seq[(Int, Int)]): String = {
    val rows = for {
      (in, out) <- pairs
      (tap, oi) <- PixelKernel.computeCoeffs(in, out).zipWithIndex.toSeq
      (w, j) <- tap.weights.zipWithIndex.toSeq
      if w != 0
    } yield s"($in,$out,$oi,${tap.xmin + j},$w)"
    rows.mkString(",")
  }

  /** Per-image pipeline at scaled test geometry, full-fold checksums. */
  def processRef(ref: String): Seq[PixelPart] =
    process(ref, TileSize, BaseSize, ratioW(ref), ratioH(ref),
      PixelKernel.pixelChecksum, PixelKernel.normChecksum)

  /** Taps for every (in, out) pair the scaled test geometry produces. */
  def coeffSqlValues: String = coeffValues(Seq((16, 8), (32, 16), (16, 16)))

  // ---------------------------------------------- reference geometry

  /** The reference's SHIPPED geometry (ref crates/core/src/config.rs:
    * 89-90): base_size 1024 (global view), image_size 640 (tiles).
    */
  val RefBase = 1024
  val RefTile = 640
  /** Row-slice stride for the full-geometry checksums (see
    * [[graft.vision.PixelKernel.pixelChecksumRows]]). Divides both the
    * 1024 canvas and the 256-aligned letterbox offsets, so sampled
    * canvas rows land exactly on sampled resize-output rows.
    */
  val RowStride = 64
  /** Full-geometry subset: one image per 2000 docs — each costs a real
    * 1280²-scale encode/decode/convolve on both engines.
    */
  val RefSubsetEvery = 2000L

  def refRatioW(ref: String): Int = (Hashing.md5i(s"qrw|$ref") % 2L + 1L).toInt
  def refRatioH(ref: String): Int = (Hashing.md5i(s"qrh|$ref") % 2L + 1L).toInt

  /** mm_pixels at the reference's shipped geometry: rule pixels sized
    * exactly to the tile grid (so the ratio resize is the identity and
    * the oracle replays tiles from the rule), REAL PNG encode → decode,
    * 640² tile crops, and the 1024 letterboxed global view through the
    * REAL full-size bicubic — with row-slice checksums (stride
    * [[RowStride]]) gating byte parity per part.
    */
  def processRefGeom(ref: String): Seq[PixelPart] =
    process(ref, RefTile, RefBase, refRatioW(ref), refRatioH(ref),
      PixelKernel.pixelChecksumRows(_, RowStride),
      PixelKernel.normChecksumRows(_, RowStride))

  /** Taps for the reference-geometry global view: (640→1024) upscale,
    * (1280→1024) and (640→512) downscale — the only pairs the
    * {1,2}×{1,2} tile grids can produce.
    */
  def coeffSqlValuesRef: String =
    coeffValues(Seq((640, 1024), (1280, 1024), (640, 512)))

  /** Driver query (full geometry): one row per (subset image, part). */
  def pixelPartsRefGeom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val refs = docs.filter(col("doc_id") % RefSubsetEvery === 0)
      .select(concat(lit("img://"), col("doc_id").cast("string"),
        lit("/0")).as("media_ref"))
    refs.as[String].mapPartitions(_.flatMap(processRefGeom)).toDF()
  }

  /** [[processRefGeom]] with EVERY-PIXEL gating: the order-free modular
    * checksums ([[PixelKernel.pixelChecksumFull]]) close the row-slice
    * caveat — the oracle aggregates all ~3.1M positions per part with a
    * plain `sum()` over generated grids, full-tensor parity like ref
    * tests/vision_weights.rs:17-290.
    */
  def processRefGeomFull(ref: String): Seq[PixelPart] =
    process(ref, RefTile, RefBase, refRatioW(ref), refRatioH(ref),
      PixelKernel.pixelChecksumFull, PixelKernel.normChecksumFull)

  /** Driver query: full geometry, every pixel checksummed. */
  def pixelPartsRefGeomFull(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val refs = docs.filter(col("doc_id") % RefSubsetEvery === 0)
      .select(concat(lit("img://"), col("doc_id").cast("string"),
        lit("/0")).as("media_ref"))
    refs.as[String].mapPartitions(_.flatMap(processRefGeomFull)).toDF()
  }

  // ---------------------------------------------- GIF pixels

  /** Fixed 256-entry palette for the GIF rule images (spec constant the
    * oracle replays in closed form): pal[i] = (i, (7i+11)%256, (13i+17)%256).
    */
  lazy val gifPalette: Array[Byte] = {
    val p = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      p(i * 3) = i.toByte
      p(i * 3 + 1) = ((7 * i + 11) % 256).toByte
      p(i * 3 + 2) = ((13 * i + 17) % 256).toByte
      i += 1
    }
    p
  }

  /** Closed-form palette-index rule: idx(x,y) = (3x + 5y + s) mod 256,
    * s = md5i("gx|ref") mod 251 — linear so the oracle generates any
    * crop without materializing frames.
    */
  def ruleGifIndexed(ref: String, w: Int, h: Int): graft.vision.GifKernel.Indexed = {
    val s = (Hashing.md5i(s"gx|$ref") % 251L).toInt
    val idx = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        idx(y * w + x) = ((3 * x + 5 * y + s) % 256).toByte
        x += 1
      }
      y += 1
    }
    graft.vision.GifKernel.Indexed(w, h, idx, gifPalette)
  }

  def gifRatioW(ref: String): Int = (Hashing.md5i(s"grw|$ref") % 2L + 1L).toInt
  def gifRatioH(ref: String): Int = (Hashing.md5i(s"grh|$ref") % 2L + 1L).toInt

  /** GIF frames through the SAME pipeline as PNG (mm_pixels): rule
    * indices → REAL GIF encode (variable-width LZW, sub-blocks) → REAL
    * decode → palette expansion → ratio resize + tile crops +
    * letterboxed global view → checksums. A decode bug anywhere in the
    * LZW/bit-unpacking path shifts pixels and hash-fails.
    */
  def processGif(ref: String): Seq[PixelPart] = {
    import graft.vision.GifKernel
    val rw = gifRatioW(ref); val rh = gifRatioH(ref)
    val indexed = ruleGifIndexed(ref, TileSize * rw, TileSize * rh)
    val dec = GifKernel.toRgb(GifKernel.decodeGif(GifKernel.encodeGif(indexed)))
    partsOf(ref, dec, rw, rh)
  }

  /** Driver query: GIF media subset, one row per (item, part). */
  def gifPixelParts(spark: SparkSession, docs: DataFrame): DataFrame =
    gifPixelPartsBy(spark, docs, processGif)

  /** Interlaced codec gate: the SAME rule frames as [[processGif]] but
    * transmitted in the GIF89a 4-pass interlace row order — after the
    * decoder's de-interlace scatter the pixel parts must hash-equal the
    * progressive-scan path verbatim (the mm_jpeg_prog pattern), so any
    * row-permutation bug hash-fails against the mm_gif_pixels oracle.
    */
  def processGifInterlaced(ref: String): Seq[PixelPart] = {
    import graft.vision.GifKernel
    val rw = gifRatioW(ref); val rh = gifRatioH(ref)
    val indexed = ruleGifIndexed(ref, TileSize * rw, TileSize * rh)
    val dec = GifKernel.toRgb(GifKernel.decodeGif(
      GifKernel.encodeGif(indexed, interlaced = true)))
    partsOf(ref, dec, rw, rh)
  }

  /** 4-bit rule: idx(x,y) = (3x + 5y + s) mod 16, s = md5i("gc|ref")
    * mod 251 — a 16-color palette image, the dominant shape of real web
    * GIFs (spec min code sizes 2..8; most crawl GIFs are < 256 colors).
    */
  def ruleGifIndexed16(ref: String, w: Int, h: Int): graft.vision.GifKernel.Indexed = {
    val s = (Hashing.md5i(s"gc|$ref") % 251L).toInt
    val idx = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        idx(y * w + x) = ((3 * x + 5 * y + s) % 16).toByte
        x += 1
      }
      y += 1
    }
    graft.vision.GifKernel.Indexed(w, h, idx, gifPalette)
  }

  /** Small-code gate: 16-color rule frames through 4-bit LZW codes AND
    * interlace simultaneously — the variable-code-width path the fixed
    * 8-bit gate cannot reach (codes start at 5 bits, widen through the
    * table growth boundaries the 8-bit stream never crosses).
    */
  def processGifSmall(ref: String): Seq[PixelPart] = {
    import graft.vision.GifKernel
    val rw = gifRatioW(ref); val rh = gifRatioH(ref)
    val indexed = ruleGifIndexed16(ref, TileSize * rw, TileSize * rh)
    val dec = GifKernel.toRgb(GifKernel.decodeGif(
      GifKernel.encodeGif(indexed, minCode = 4, interlaced = true)))
    partsOf(ref, dec, rw, rh)
  }

  /** Shared tail of every GIF gate: resize + tile + letterbox +
    * checksums over an already-decoded frame.
    */
  private def partsOf(ref: String, dec: PixelKernel.Rgb, rw: Int, rh: Int): Seq[PixelPart] = {
    val ratioSized = PixelKernel.resizeBicubic(dec, TileSize * rw, TileSize * rh)
    val tiles = PixelKernel.cropTiles(ratioSized, TileSize)
    val global = PixelKernel.buildGlobalView(dec, BaseSize)
    val tileParts = tiles.zipWithIndex.map { case (t, i) =>
      PixelPart(ref, s"tile_$i", t.w.toLong, t.h.toLong,
        PixelKernel.pixelChecksum(t), PixelKernel.normChecksum(t))
    }
    tileParts :+ PixelPart(ref, "global", global.w.toLong, global.h.toLong,
      PixelKernel.pixelChecksum(global), PixelKernel.normChecksum(global))
  }

  // ------------------------------------------ animated GIF frames

  /** Frames per animation: 5..8, keyed like every other per-ref knob. */
  def gifFrameCount(ref: String): Int = (Hashing.md5i(s"gf|$ref") % 4L + 5L).toInt

  /** Every 3rd composited frame is sampled (0, 3, 6). */
  val FrameSampleStep = 3

  /** Animated patches are 8×8 sub-rectangles. */
  val AnimPatch = 8

  /** Patch rule for animation frame g ≥ 1 at local coords (x', y'):
    * transparent (palette index 255) where (x'+y'+g) mod 3 == 0, else
    * opaque (7x' + 3y' + s + 17g) mod 255 — the mod-255 range keeps
    * opaque values disjoint from the transparent index, so transparency
    * semantics are decided by the RULE, never by collision.
    */
  private def animPatch(s: Int, g: Int): Array[Byte] = {
    val idx = new Array[Byte](AnimPatch * AnimPatch)
    var y = 0
    while (y < AnimPatch) {
      var x = 0
      while (x < AnimPatch) {
        idx(y * AnimPatch + x) =
          if ((x + y + g) % 3 == 0) 255.toByte
          else ((7 * x + 3 * y + s + 17 * g) % 255).toByte
        x += 1
      }
      y += 1
    }
    idx
  }

  private def animPatchX(g: Int, w: Int): Int = (g * 3) % (w - AnimPatch)
  private def animPatchY(g: Int, h: Int): Int = (g * 5) % (h - AnimPatch)

  /** REAL animated-GIF frame sampling: frame 0 is the full-canvas
    * [[ruleGifIndexed]] base; frames 1..F-1 are 8×8 sub-rectangle
    * patches at rule offsets with per-pixel transparency (index 255)
    * and per-frame interlace (odd frames), all encoded through the real
    * multi-frame GIF89a writer (graphic-control extensions, NETSCAPE
    * loop block) and decoded back by compositing onto the logical
    * screen. Every 3rd composited canvas is checksummed — the oracle
    * replays "last opaque writer ≤ f per pixel" in closed form, so a
    * bug in sub-rect scatter, transparency, GCE parsing, or per-frame
    * interlace hash-fails.
    */
  def processGifFrames(ref: String): Seq[PixelPart] = {
    import graft.vision.GifKernel
    val rw = gifRatioW(ref); val rh = gifRatioH(ref)
    val w = TileSize * rw; val h = TileSize * rh
    val s = (Hashing.md5i(s"gx|$ref") % 251L).toInt
    val base = ruleGifIndexed(ref, w, h)
    val nFrames = gifFrameCount(ref)
    val frames = GifKernel.AnimFrame(0, 0, w, h, base.idx) +:
      (1 until nFrames).map { g =>
        GifKernel.AnimFrame(animPatchX(g, w), animPatchY(g, h),
          AnimPatch, AnimPatch, animPatch(s, g),
          interlaced = g % 2 == 1, transparentIdx = Some(255))
      }
    val bytes = GifKernel.encodeGifAnim(w, h, gifPalette, frames)
    val composited = GifKernel.decodeGifAnim(bytes)
    (0 until nFrames by FrameSampleStep).map { f =>
      val rgb = GifKernel.toRgb(composited(f))
      PixelPart(ref, s"frame_$f", w.toLong, h.toLong,
        PixelKernel.pixelChecksum(rgb), PixelKernel.normChecksum(rgb))
    }
  }

  def gifFramesParts(spark: SparkSession, docs: DataFrame): DataFrame =
    gifPixelPartsBy(spark, docs, processGifFrames)

  def gifInterlacePixelParts(spark: SparkSession, docs: DataFrame): DataFrame =
    gifPixelPartsBy(spark, docs, processGifInterlaced)

  def gifSmallPixelParts(spark: SparkSession, docs: DataFrame): DataFrame =
    gifPixelPartsBy(spark, docs, processGifSmall)

  private def gifPixelPartsBy(spark: SparkSession, docs: DataFrame,
                              f: String => Seq[PixelPart]): DataFrame = {
    import spark.implicits._
    val id = col("doc_id").cast("string")
    val refs = docs.select(explode(
      when(col("doc_id") % 4 === 0,
        array(concat(lit("img://"), id, lit("/0")),
              concat(lit("img://"), id, lit("/1"))))
        .when(col("doc_id") % 2 === 0,
          array(concat(lit("img://"), id, lit("/0"))))
        .otherwise(array().cast("array<string>"))).as("media_ref"))
      .filter(Hashing.md5iCol(concat(lit("gxs|"), col("media_ref")))
        % SubsetMod === 0L)
    refs.as[String].mapPartitions(_.flatMap(f)).toDF()
  }

  // ---------------------------------------------- JPEG pixels

  def jpegRatioW(ref: String): Int = (Hashing.md5i(s"jrw|$ref") % 2L + 1L).toInt
  def jpegRatioH(ref: String): Int = (Hashing.md5i(s"jrh|$ref") % 2L + 1L).toInt

  /** Block-constant luma rule: v(x,y) = (5·⌊x/8⌋ + 9·⌊y/8⌋ + s) mod 256,
    * s = md5i("jx|ref") mod 251. Constant per 8×8 JPEG block, so AC
    * coefficients quantize to zero and the step-8 DC quantizer
    * round-trips bit-exactly (see [[graft.vision.JpegKernel]]) — the
    * oracle replays decoded pixels straight from the rule while the
    * engine runs the REAL entropy decode.
    */
  def ruleJpegGray(ref: String, w: Int, h: Int): graft.vision.JpegKernel.Gray = {
    val s = (Hashing.md5i(s"jx|$ref") % 251L).toInt
    val data = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        data(y * w + x) = ((5 * (x / 8) + 9 * (y / 8) + s) % 256).toByte
        x += 1
      }
      y += 1
    }
    graft.vision.JpegKernel.Gray(w, h, data)
  }

  /** JPEG frames through the SAME pipeline as PNG/GIF: rule luma → REAL
    * baseline JPEG encode (standard Huffman tables, byte stuffing,
    * restart marker every 2 MCUs) → REAL decode (canonical Huffman,
    * dequant, exact IDCT) → grayscale-to-RGB → ratio resize + tile crops
    * + letterboxed global view → checksums. A bug anywhere in the
    * Huffman/bitstream/IDCT path shifts pixels and hash-fails.
    */
  def processJpeg(ref: String): Seq[PixelPart] = {
    import graft.vision.JpegKernel
    val rw = jpegRatioW(ref); val rh = jpegRatioH(ref)
    val gray = ruleJpegGray(ref, TileSize * rw, TileSize * rh)
    val bytes = JpegKernel.encodeGray(gray, JpegKernel.DcExactQuant,
      restartInterval = 2)
    val dec = JpegKernel.decodeJpeg(bytes)
    val ratioSized = PixelKernel.resizeBicubic(dec, TileSize * rw, TileSize * rh)
    val tiles = PixelKernel.cropTiles(ratioSized, TileSize)
    val global = PixelKernel.buildGlobalView(dec, BaseSize)
    val tileParts = tiles.zipWithIndex.map { case (t, i) =>
      PixelPart(ref, s"tile_$i", t.w.toLong, t.h.toLong,
        PixelKernel.pixelChecksum(t), PixelKernel.normChecksum(t))
    }
    tileParts :+ PixelPart(ref, "global", global.w.toLong, global.h.toLong,
      PixelKernel.pixelChecksum(global), PixelKernel.normChecksum(global))
  }

  /** Driver query: JPEG media subset, one row per (item, part). */
  def jpegPixelParts(spark: SparkSession, docs: DataFrame): DataFrame =
    jpegPartsWith(spark, docs, processJpeg)

  /** [[processJpeg]] with the PROGRESSIVE (SOF2) codec: same rule, same
    * quant, but the bytes go through spectral selection + DC successive
    * approximation + EOB-run band scans + restart markers — and must
    * decode to the SAME pixels (the DC point transform reconstructs any
    * integer exactly, and block-constant images have zero AC). The
    * oracle is therefore IDENTICAL to mm_jpeg_pixels': a progressive
    * entropy bug anywhere hash-fails against the closed-form rule.
    */
  def processJpegProg(ref: String): Seq[PixelPart] = {
    import graft.vision.JpegKernel
    val rw = jpegRatioW(ref); val rh = jpegRatioH(ref)
    val gray = ruleJpegGray(ref, TileSize * rw, TileSize * rh)
    val bytes = JpegKernel.encodeGrayProgressive(gray, JpegKernel.DcExactQuant,
      restartInterval = 2)
    val dec = JpegKernel.decodeJpeg(bytes)
    val ratioSized = PixelKernel.resizeBicubic(dec, TileSize * rw, TileSize * rh)
    val tiles = PixelKernel.cropTiles(ratioSized, TileSize)
    val global = PixelKernel.buildGlobalView(dec, BaseSize)
    val tileParts = tiles.zipWithIndex.map { case (t, i) =>
      PixelPart(ref, s"tile_$i", t.w.toLong, t.h.toLong,
        PixelKernel.pixelChecksum(t), PixelKernel.normChecksum(t))
    }
    tileParts :+ PixelPart(ref, "global", global.w.toLong, global.h.toLong,
      PixelKernel.pixelChecksum(global), PixelKernel.normChecksum(global))
  }

  def jpegProgPixelParts(spark: SparkSession, docs: DataFrame): DataFrame =
    jpegPartsWith(spark, docs, processJpegProg)

  /** Per-channel CMYK salt: stored (inverted-ink) plane c has block rule
    * (5·⌊x/8⌋ + 9·⌊y/8⌋ + s_c) mod 256 with s_c = md5i("jc{c}|ref") mod
    * 251 — block-constant, so all four planes are DC-exact through the
    * real codec (any constant block round-trips bit-identically under
    * the step-8 DC quantizer).
    */
  def jpegCmykSalt(ref: String, c: Int): Int =
    (Hashing.md5i(s"jc$c|$ref") % 251L).toInt

  private def ruleCmykPlane(ref: String, c: Int, w: Int, h: Int): Array[Byte] = {
    val s = jpegCmykSalt(ref, c)
    val data = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        data(y * w + x) = ((5 * (x / 8) + 9 * (y / 8) + s) % 256).toByte
        x += 1
      }
      y += 1
    }
    data
  }

  /** Adobe CMYK (4-component, APP14) through the REAL codec: four
    * block-constant stored planes → encodeCmyk (transform 0) → full
    * entropy decode → the integer ink fold R=(2·c·k+255)/510 → the SAME
    * resize/tile/letterbox pipeline. Every stage except the fold is the
    * machinery the other JPEG gates already prove; the fold is
    * closed-form, so the oracle replays final RGB exactly — the
    * 4-component family PDF-embedded print images actually use.
    */
  def processJpegCmyk(ref: String): Seq[PixelPart] = {
    import graft.vision.JpegKernel
    val rw = jpegRatioW(ref); val rh = jpegRatioH(ref)
    val w = TileSize * rw; val h = TileSize * rh
    val planes = Array.tabulate(4)(c => ruleCmykPlane(ref, c, w, h))
    val bytes = JpegKernel.encodeCmyk(w, h, planes, JpegKernel.DcExactQuant)
    val dec = JpegKernel.decodeJpeg(bytes)
    val ratioSized = PixelKernel.resizeBicubic(dec, w, h)
    val tiles = PixelKernel.cropTiles(ratioSized, TileSize)
    val global = PixelKernel.buildGlobalView(dec, BaseSize)
    val tileParts = tiles.zipWithIndex.map { case (t, i) =>
      PixelPart(ref, s"tile_$i", t.w.toLong, t.h.toLong,
        PixelKernel.pixelChecksum(t), PixelKernel.normChecksum(t))
    }
    tileParts :+ PixelPart(ref, "global", global.w.toLong, global.h.toLong,
      PixelKernel.pixelChecksum(global), PixelKernel.normChecksum(global))
  }

  def jpegCmykPixelParts(spark: SparkSession, docs: DataFrame): DataFrame =
    jpegPartsWith(spark, docs, processJpegCmyk)

  private def jpegPartsWith(spark: SparkSession, docs: DataFrame,
      f: String => Seq[PixelPart]): DataFrame = {
    import spark.implicits._
    val id = col("doc_id").cast("string")
    val refs = docs.select(explode(
      when(col("doc_id") % 4 === 0,
        array(concat(lit("img://"), id, lit("/0")),
              concat(lit("img://"), id, lit("/1"))))
        .when(col("doc_id") % 2 === 0,
          array(concat(lit("img://"), id, lit("/0"))))
        .otherwise(array().cast("array<string>"))).as("media_ref"))
      .filter(Hashing.md5iCol(concat(lit("jxs|"), col("media_ref")))
        % SubsetMod === 0L)
    refs.as[String].mapPartitions(_.flatMap(f)).toDF()
  }

  /** Driver query: one row per (media item in subset, part). */
  def pixelParts(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val id = col("doc_id").cast("string")
    val refs = docs.select(explode(
      when(col("doc_id") % 4 === 0,
        array(concat(lit("img://"), id, lit("/0")),
              concat(lit("img://"), id, lit("/1"))))
        .when(col("doc_id") % 2 === 0,
          array(concat(lit("img://"), id, lit("/0"))))
        .otherwise(array().cast("array<string>"))).as("media_ref"))
      .filter(Hashing.md5iCol(concat(lit("pxs|"), col("media_ref")))
        % SubsetMod === 0L)
    refs.as[String].mapPartitions(_.flatMap(processRef)).toDF()
  }

  // ------------------------------------------- PNG profile space

  /** Profile-gate raster: 19×13 — deliberately NOT multiples of 8, so
    * Adam7 edge passes and sub-byte row padding are load-bearing.
    */
  val ProfW = 19
  val ProfH = 13

  final case class ProfilePart(media_ref: String, profile: String,
                               width: Long, height: Long, pix_fp: Long)

  /** Closed-form rasters for the PNG profile gate (all linear in (x, y)
    * and the per-ref seed s, so the oracle generates them in SQL):
    *  - rgb:      the [[rulePixels]] formulas;
    *  - gray8:    g = (7x+13y+s) mod 256 replicated;
    *  - gray1:    255·((x+y+s) mod 2);
    *  - gray4:    17·((x+3y+s) mod 16);
    *  - palette8: idx = (3x+5y+s) mod 256 through
    *              pal(i) = ((7i+s), (11i+2s), (i+3s)) mod 256;
    *  - palette4: idx = (x+2y+s) mod 16 through the same pal.
    */
  def profileSeed(ref: String): Int = (Hashing.md5i(s"px|$ref") % 251L).toInt

  private def profPalette(s: Int, n: Int): Array[Byte] = {
    val p = new Array[Byte](n * 3)
    var i = 0
    while (i < n) {
      p(i * 3) = ((7 * i + s) % 256).toByte
      p(i * 3 + 1) = ((11 * i + 2 * s) % 256).toByte
      p(i * 3 + 2) = ((i + 3 * s) % 256).toByte
      i += 1
    }
    p
  }

  /** One media ref's PNG-profile sweep: the SAME closed-form content
    * encoded through twelve spec profiles (color type × depth ×
    * interlace), each REALLY decoded back (inflate + per-pass unfilter +
    * bit unpack + palette/alpha/16-bit handling) and checksummed. The
    * alpha, low-byte, and interlace variants must decode to the SAME
    * pixels as their base profile — so a stride, scatter, or channel-skip
    * bug anywhere in the decoder hash-fails against the oracle's
    * closed-form replay.
    */
  def processProfiles(ref: String): Seq[ProfilePart] = {
    import graft.vision.PixelKernel._
    val s = profileSeed(ref)
    val (w, h) = (ProfW, ProfH)
    def grid(f: (Int, Int) => Seq[Int]): Array[Int] =
      (0 until h).flatMap(y => (0 until w).flatMap(x => f(x, y))).toArray
    val rgb = grid((x, y) => Seq((7 * x + 13 * y + s) % 256,
      (11 * x + 3 * y + 2 * s) % 256, (x + y + 3 * s) % 256))
    val gray = grid((x, y) => Seq((7 * x + 13 * y + s) % 256))
    val variants: Seq[(String, Array[Byte])] = Seq(
      "truecolor" -> encodePngEx(w, h, 2, 8, rgb, Array.empty, interlaced = false),
      "adam7" -> encodePngEx(w, h, 2, 8, rgb, Array.empty, interlaced = true),
      "rgb16" -> encodePngEx(w, h, 2, 16,
        grid((x, y) => Seq(
          (((7 * x + 13 * y + s) % 256) << 8) | ((x + y + s) % 256),
          (((11 * x + 3 * y + 2 * s) % 256) << 8) | ((x + 2 * y + s) % 256),
          (((x + y + 3 * s) % 256) << 8) | ((2 * x + y + s) % 256))),
        Array.empty, interlaced = false),
      "rgba8" -> encodePngEx(w, h, 6, 8,
        grid((x, y) => Seq((7 * x + 13 * y + s) % 256,
          (11 * x + 3 * y + 2 * s) % 256, (x + y + 3 * s) % 256,
          (x + 2 * y + s) % 256)),
        Array.empty, interlaced = false),
      "gray8" -> encodePngEx(w, h, 0, 8, gray, Array.empty, interlaced = false),
      "gray8_adam7" -> encodePngEx(w, h, 0, 8, gray, Array.empty, interlaced = true),
      "gray16" -> encodePngEx(w, h, 0, 16,
        grid((x, y) => Seq((((7 * x + 13 * y + s) % 256) << 8) |
          ((5 * x + y + s) % 256))),
        Array.empty, interlaced = false),
      "graya8" -> encodePngEx(w, h, 4, 8,
        grid((x, y) => Seq((7 * x + 13 * y + s) % 256, (x + 2 * y + s) % 256)),
        Array.empty, interlaced = false),
      "gray1" -> encodePngEx(w, h, 0, 1,
        grid((x, y) => Seq((x + y + s) % 2)), Array.empty, interlaced = false),
      "gray4" -> encodePngEx(w, h, 0, 4,
        grid((x, y) => Seq((x + 3 * y + s) % 16)), Array.empty, interlaced = false),
      "palette8" -> encodePngEx(w, h, 3, 8,
        grid((x, y) => Seq((3 * x + 5 * y + s) % 256)),
        profPalette(s, 256), interlaced = false),
      "palette4_adam7" -> encodePngEx(w, h, 3, 4,
        grid((x, y) => Seq((x + 2 * y + s) % 16)),
        profPalette(s, 16), interlaced = true))
    variants.map { case (name, bytes) =>
      val dec = decodePng(bytes)
      ProfilePart(ref, name, dec.w.toLong, dec.h.toLong, pixelChecksum(dec))
    }
  }

  def pngProfileParts(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val id = col("doc_id").cast("string")
    val refs = docs.filter(col("doc_id") % 2 === 0)
      .select(concat(lit("img://"), id, lit("/0")).as("media_ref"))
      .filter(Hashing.md5iCol(concat(lit("pxs|"), col("media_ref")))
        % SubsetMod === 0L)
    refs.as[String].mapPartitions(_.flatMap(processProfiles)).toDF()
  }
}
