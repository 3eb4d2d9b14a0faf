package graft.operators

import graft.functions.Hashing
import graft.vision.{GifKernel, JpegKernel, PixelKernel}
import graft.vision.PixelKernel.Rgb
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** The pixel gates (mm_pixels, mm_gif_*, mm_jpeg_*, mm_png_profiles):
  * REAL image codecs feeding one view pipeline, driver-verified end to
  * end.
  *
  * A deterministic 1-in-8 subset of the media items carries a rule-
  * generated image (pixel values are closed-form functions of (x, y,
  * ref)), encoded executor-side through a REAL codec (PNG, GIF, JPEG) and
  * decoded back, then run through the pipeline the reference applies to
  * every image (vision.prepare_inputs): decode → dynamic-ratio resize +
  * tile crops (preprocess.rs:51-76) → letterboxed global view
  * (model/mod.rs:1718-1741) → (v/255−0.5)/0.5 CHW normalization
  * (model/mod.rs:1743-1761). Scaled geometry (16-px tiles/base vs the
  * reference's 640) keeps the DuckDB replay tractable; every algorithm
  * is the full-size one, and mm_pixels_ref/_full run it at the shipped
  * geometry.
  *
  * Every codec gate shares the decode → [[parts]] tail, so it states
  * only how it builds its rule image and how it encodes and decodes it —
  * the Spark mirror of the oracles' one chain
  * (`MediaGates.px16OracleSql`). Per-ref knobs are md5 salts: `{geo}rw`
  * and `{geo}rh` pick the tile grid ([[ratio]]), `{geo}xs` the subset,
  * with geo `p` (PNG), `g` (GIF), `j` (JPEG) and `q` (shipped geometry).
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

  /** The rw×rh tile grid of `ref` under geometry salt `geo`, each in {1, 2}. */
  def ratio(geo: String, ref: String): (Int, Int) =
    ((Hashing.md5i(s"${geo}rw|$ref") % 2L + 1L).toInt,
     (Hashing.md5i(s"${geo}rh|$ref") % 2L + 1L).toInt)

  /** Per-ref rule seed md5i("salt|ref") mod 251. */
  def seed(salt: String, ref: String): Int =
    (Hashing.md5i(s"$salt|$ref") % 251L).toInt

  /** A w×h raster of `ch` interleaved channels with value f(x, y, c). */
  private def raster(w: Int, h: Int, ch: Int)(f: (Int, Int, Int) => Int): Array[Byte] = {
    val out = new Array[Byte](w * h * ch)
    var i = 0
    while (i < out.length) {
      val p = i / ch
      out(i) = f(p % w, p / w, i % ch).toByte
      i += 1
    }
    out
  }

  /** Closed-form rule pixels (x right, y down, interleaved RGB):
    * r = (7x+13y+s) mod 256, g = (11x+3y+2s) mod 256, b = (x+y+3s) mod 256
    * with s = md5i("px|ref") mod 251. Linear in (x, y) so the oracle can
    * generate any crop without materializing images.
    */
  def rulePixels(ref: String, w: Int, h: Int): Rgb = {
    val s = seed("px", ref)
    Rgb(w, h, raster(w, h, 3) {
      case (x, y, 0) => (7 * x + 13 * y + s) % 256
      case (x, y, 1) => (11 * x + 3 * y + 2 * s) % 256
      case (x, y, _) => (x + y + 3 * s) % 256
    })
  }

  final case class PixelPart(media_ref: String, part: String, width: Long,
                             height: Long, pix_fp: Long, norm_fp: Long)

  /** The view pipeline after decode, shared by every pixel gate: ratio
    * resize to rw×rh tiles + tile crops, letterboxed global view on a
    * base² canvas, then one checksummed part per tile and the global.
    */
  private def parts(ref: String, decoded: Rgb, tile: Int, base: Int, rw: Int, rh: Int,
                    pixFp: Rgb => Long, normFp: Rgb => Long): Seq[PixelPart] = {
    val tiles = PixelKernel.cropTiles(
      PixelKernel.resizeBicubic(decoded, tile * rw, tile * rh), tile)
    val views = tiles.zipWithIndex.map { case (t, i) => s"tile_$i" -> t } :+
      ("global" -> PixelKernel.buildGlobalView(decoded, base))
    views.map { case (part, v) =>
      PixelPart(ref, part, v.w.toLong, v.h.toLong, pixFp(v), normFp(v))
    }
  }

  /** A 16-px gate's parts for `ref`: `decode(w, h)` yields the decoded
    * w×h rule image for the `geo` tile grid; full-fold checksums.
    */
  private def px16(ref: String, geo: String)(decode: (Int, Int) => Rgb): Seq[PixelPart] = {
    val (rw, rh) = ratio(geo, ref)
    parts(ref, decode(TileSize * rw, TileSize * rh), TileSize, BaseSize, rw, rh,
      PixelKernel.pixelChecksum(_), PixelKernel.normChecksum(_))
  }

  /** REAL PNG round trip: compressed IDAT, all five row filters. */
  private def png(img: Rgb): Rgb = PixelKernel.decodePng(PixelKernel.encodePng(img))

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

  /** mm_pixels: rule pixels → PNG → REAL decode (inflate + unfilter). */
  def processRef(ref: String): Seq[PixelPart] =
    px16(ref, "p")((w, h) => png(rulePixels(ref, w, h)))

  /** Taps for every (in, out) pair the scaled test geometry produces. */
  def coeffSqlValues: String = coeffValues(Seq((16, 8), (32, 16), (16, 16)))

  // ---------------------------------------------- reference geometry

  /** The reference's SHIPPED geometry (ref crates/core/src/config.rs:
    * 89-90): base_size 1024 (global view), image_size 640 (tiles).
    */
  val RefBase = 1024
  val RefTile = 640
  /** Row-slice stride for the full-geometry checksums (see
    * [[graft.vision.PixelKernel.pixelChecksum]]). Divides both the
    * 1024 canvas and the 256-aligned letterbox offsets, so sampled
    * canvas rows land exactly on sampled resize-output rows.
    */
  val RowStride = 64
  /** Full-geometry subset: one image per 2000 docs — each costs a real
    * 1280²-scale encode/decode/convolve on both engines.
    */
  val RefSubsetEvery = 2000L

  /** mm_pixels at the shipped geometry: rule pixels sized exactly to the
    * `q` tile grid (so the ratio resize is the identity and the oracle
    * replays tiles from the rule), REAL PNG round trip, 640² tile crops
    * and the 1024 letterboxed global view through the REAL full-size
    * bicubic, checksummed by `pixFp` / `normFp`.
    */
  private def refGeom(ref: String, pixFp: Rgb => Long, normFp: Rgb => Long): Seq[PixelPart] = {
    val (rw, rh) = ratio("q", ref)
    parts(ref, png(rulePixels(ref, RefTile * rw, RefTile * rh)), RefTile, RefBase,
      rw, rh, pixFp, normFp)
  }

  /** [[refGeom]] with row-slice checksums (stride [[RowStride]]). */
  def processRefGeom(ref: String): Seq[PixelPart] =
    refGeom(ref, PixelKernel.pixelChecksum(_, RowStride),
      PixelKernel.normChecksum(_, RowStride))

  /** [[refGeom]] with EVERY-PIXEL gating: the order-free modular
    * checksums ([[PixelKernel.pixelChecksumFull]]) close the row-slice
    * caveat — the oracle aggregates all ~3.1M positions per part with a
    * plain `sum()` over generated grids, full-tensor parity like ref
    * tests/vision_weights.rs:17-290.
    */
  def processRefGeomFull(ref: String): Seq[PixelPart] =
    refGeom(ref, PixelKernel.pixelChecksumFull, PixelKernel.normChecksumFull)

  /** Taps for the reference-geometry global view: (640→1024) upscale,
    * (1280→1024) and (640→512) downscale — the only pairs the
    * {1,2}×{1,2} tile grids can produce.
    */
  def coeffSqlValuesRef: String =
    coeffValues(Seq((640, 1024), (1280, 1024), (640, 512)))

  // ---------------------------------------------- GIF pixels

  /** Fixed 256-entry palette for the GIF rule images (spec constant the
    * oracle replays in closed form): pal[i] = (i, (7i+11)%256, (13i+17)%256).
    */
  lazy val gifPalette: Array[Byte] = raster(256, 1, 3) {
    case (i, _, 0) => i
    case (i, _, 1) => (7 * i + 11) % 256
    case (i, _, _) => (13 * i + 17) % 256
  }

  /** Closed-form palette-index rule: idx(x,y) = (3x + 5y + s) mod `mod`,
    * s = md5i("salt|ref") mod 251 — linear so the oracle generates any
    * crop without materializing frames. `mod` 16 with salt `gc` is a
    * 16-color palette image, the dominant shape of real web GIFs (spec
    * min code sizes 2..8; most crawl GIFs are < 256 colors).
    */
  def ruleGifIndexed(ref: String, w: Int, h: Int, mod: Int = 256,
                     salt: String = "gx"): GifKernel.Indexed = {
    val s = seed(salt, ref)
    GifKernel.Indexed(w, h, raster(w, h, 1)((x, y, _) => (3 * x + 5 * y + s) % mod),
      gifPalette)
  }

  /** GIF frames through the SAME pipeline as PNG (mm_pixels): rule
    * indices → REAL GIF encode (variable-width LZW, sub-blocks) → REAL
    * decode → palette expansion. A decode bug anywhere in the
    * LZW/bit-unpacking path shifts pixels and hash-fails.
    */
  def processGif(ref: String): Seq[PixelPart] =
    px16(ref, "g")((w, h) => GifKernel.toRgb(GifKernel.decodeGif(
      GifKernel.encodeGif(ruleGifIndexed(ref, w, h)))))

  /** Interlaced codec gate: the SAME rule frames as [[processGif]] but
    * transmitted in the GIF89a 4-pass interlace row order — after the
    * decoder's de-interlace scatter the pixel parts must hash-equal the
    * progressive-scan path verbatim (the mm_jpeg_prog pattern), so any
    * row-permutation bug hash-fails against the mm_gif_pixels oracle.
    */
  def processGifInterlaced(ref: String): Seq[PixelPart] =
    px16(ref, "g")((w, h) => GifKernel.toRgb(GifKernel.decodeGif(
      GifKernel.encodeGif(ruleGifIndexed(ref, w, h), interlaced = true))))

  /** Small-code gate: 16-color rule frames through 4-bit LZW codes AND
    * interlace simultaneously — the variable-code-width path the fixed
    * 8-bit gate cannot reach (codes start at 5 bits, widen through the
    * table growth boundaries the 8-bit stream never crosses).
    */
  def processGifSmall(ref: String): Seq[PixelPart] =
    px16(ref, "g")((w, h) => GifKernel.toRgb(GifKernel.decodeGif(GifKernel.encodeGif(
      ruleGifIndexed(ref, w, h, 16, "gc"), minCode = 4, interlaced = true))))

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
  private def animPatch(s: Int, g: Int): Array[Byte] =
    raster(AnimPatch, AnimPatch, 1) { (x, y, _) =>
      if ((x + y + g) % 3 == 0) 255 else (7 * x + 3 * y + s + 17 * g) % 255
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
    val (rw, rh) = ratio("g", ref)
    val w = TileSize * rw; val h = TileSize * rh
    val s = seed("gx", ref)
    val nFrames = gifFrameCount(ref)
    val frames = GifKernel.AnimFrame(0, 0, w, h, ruleGifIndexed(ref, w, h).idx) +:
      (1 until nFrames).map { g =>
        GifKernel.AnimFrame(animPatchX(g, w), animPatchY(g, h),
          AnimPatch, AnimPatch, animPatch(s, g),
          interlaced = g % 2 == 1, transparentIdx = Some(255))
      }
    val composited = GifKernel.decodeGifAnim(
      GifKernel.encodeGifAnim(w, h, gifPalette, frames))
    (0 until nFrames by FrameSampleStep).map { f =>
      val rgb = GifKernel.toRgb(composited(f))
      PixelPart(ref, s"frame_$f", w.toLong, h.toLong,
        PixelKernel.pixelChecksum(rgb), PixelKernel.normChecksum(rgb))
    }
  }

  // ---------------------------------------------- JPEG pixels

  /** Block-constant rule: v(x,y) = (5·⌊x/8⌋ + 9·⌊y/8⌋ + s) mod 256,
    * s = md5i("salt|ref") mod 251. Constant per 8×8 JPEG block, so AC
    * coefficients quantize to zero and the step-8 DC quantizer
    * round-trips bit-exactly (see [[graft.vision.JpegKernel]]) — the
    * oracle replays decoded pixels straight from the rule while the
    * engine runs the REAL entropy decode. Salt `jx` is the luma gates'
    * plane; `jc0`..`jc3` are the CMYK gate's four stored planes.
    */
  def ruleJpegGray(ref: String, w: Int, h: Int, salt: String = "jx"): JpegKernel.Gray = {
    val s = seed(salt, ref)
    JpegKernel.Gray(w, h, raster(w, h, 1)((x, y, _) => (5 * (x / 8) + 9 * (y / 8) + s) % 256))
  }

  /** JPEG frames through the SAME pipeline as PNG/GIF: rule luma → REAL
    * baseline JPEG encode (standard Huffman tables, byte stuffing,
    * restart marker every 2 MCUs) → REAL decode (canonical Huffman,
    * dequant, exact IDCT) → grayscale-to-RGB. A bug anywhere in the
    * Huffman/bitstream/IDCT path shifts pixels and hash-fails.
    */
  def processJpeg(ref: String): Seq[PixelPart] =
    px16(ref, "j")((w, h) => JpegKernel.decodeJpeg(JpegKernel.encodeGray(
      ruleJpegGray(ref, w, h), JpegKernel.DcExactQuant, restartInterval = 2)))

  /** [[processJpeg]] with the PROGRESSIVE (SOF2) codec: same rule, same
    * quant, but the bytes go through spectral selection + DC successive
    * approximation + EOB-run band scans + restart markers — and must
    * decode to the SAME pixels (the DC point transform reconstructs any
    * integer exactly, and block-constant images have zero AC). The
    * oracle is therefore IDENTICAL to mm_jpeg_pixels': a progressive
    * entropy bug anywhere hash-fails against the closed-form rule.
    */
  def processJpegProg(ref: String): Seq[PixelPart] =
    px16(ref, "j")((w, h) => JpegKernel.decodeJpeg(JpegKernel.encodeGrayProgressive(
      ruleJpegGray(ref, w, h), JpegKernel.DcExactQuant, restartInterval = 2)))

  /** Adobe CMYK (4-component, APP14) through the REAL codec: four
    * block-constant stored (inverted-ink) planes, salts `jc0`..`jc3` →
    * encodeCmyk (transform 0) → full entropy decode → the integer ink
    * fold R=(2·c·k+255)/510. Every stage except the fold is the machinery
    * the other JPEG gates already prove; the fold is closed-form, so the
    * oracle replays final RGB exactly — the 4-component family
    * PDF-embedded print images actually use.
    */
  def processJpegCmyk(ref: String): Seq[PixelPart] =
    px16(ref, "j")((w, h) => JpegKernel.decodeJpeg(JpegKernel.encodeCmyk(w, h,
      Array.tabulate(4)(c => ruleJpegGray(ref, w, h, s"jc$c").data),
      JpegKernel.DcExactQuant)))

  // ---------------------------------------------- driver queries

  /** One row per (ref, part) of `process` over the `media_ref` column. */
  private def partsOf[P <: Product : TypeTag](refs: DataFrame)(
      process: String => Seq[P]): DataFrame = {
    import refs.sparkSession.implicits._
    refs.as[String].mapPartitions(_.flatMap(process)).toDF()
  }

  /** Every image ref (/0 on even ids, /1 on ids % 4 = 0) whose `{geo}xs`
    * hash puts it in the 1-in-[[SubsetMod]] subset.
    */
  private def subsetRefs(docs: DataFrame, geo: String): DataFrame = {
    val id = col("doc_id").cast("string")
    docs.select(explode(
      when(col("doc_id") % 4 === 0,
        array(concat(lit("img://"), id, lit("/0")),
              concat(lit("img://"), id, lit("/1"))))
        .when(col("doc_id") % 2 === 0,
          array(concat(lit("img://"), id, lit("/0"))))
        .otherwise(array().cast("array<string>"))).as("media_ref"))
      .filter(Hashing.md5iCol(concat(lit(s"${geo}xs|"), col("media_ref")))
        % SubsetMod === 0L)
  }

  /** Driver query of a 16-px gate: `process` over the `geo` subset. */
  def px16Parts(geo: String, process: String => Seq[PixelPart])
      : (SparkSession, DataFrame) => DataFrame =
    (_, docs) => partsOf(subsetRefs(docs, geo))(process)

  /** Driver query of a shipped-geometry gate: `process` over the /0 ref
    * of every [[RefSubsetEvery]]th doc.
    */
  def refGeomParts(process: String => Seq[PixelPart])
      : (SparkSession, DataFrame) => DataFrame =
    (_, docs) => partsOf(docs.filter(col("doc_id") % RefSubsetEvery === 0)
      .select(concat(lit("img://"), col("doc_id").cast("string"), lit("/0"))
        .as("media_ref")))(process)

  // ------------------------------------------- PNG profile space

  /** Profile-gate raster: 19×13 — deliberately NOT multiples of 8, so
    * Adam7 edge passes and sub-byte row padding are load-bearing.
    */
  val ProfW = 19
  val ProfH = 13

  final case class ProfilePart(media_ref: String, profile: String,
                               width: Long, height: Long, pix_fp: Long)

  /** Closed-form rasters for the PNG profile gate (all linear in (x, y)
    * and the per-ref seed s = seed("px", ref), so the oracle generates
    * them in SQL):
    *  - rgb:      the [[rulePixels]] formulas;
    *  - gray8:    g = (7x+13y+s) mod 256 replicated;
    *  - gray1:    255·((x+y+s) mod 2);
    *  - gray4:    17·((x+3y+s) mod 16);
    *  - palette8: idx = (3x+5y+s) mod 256 through
    *              pal(i) = ((7i+s), (11i+2s), (i+3s)) mod 256;
    *  - palette4: idx = (x+2y+s) mod 16 through the same pal.
    */
  private def profPalette(s: Int, n: Int): Array[Byte] = raster(n, 1, 3) {
    case (i, _, 0) => (7 * i + s) % 256
    case (i, _, 1) => (11 * i + 2 * s) % 256
    case (i, _, _) => (i + 3 * s) % 256
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
    val s = seed("px", ref)
    val (w, h) = (ProfW, ProfH)
    def grid(f: (Int, Int) => Seq[Int]): Array[Int] =
      (0 until h).flatMap(y => (0 until w).flatMap(x => f(x, y))).toArray
    val rgb = rulePixels(ref, w, h).data.map(_ & 0xff)
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

  /** Driver query: the /0 refs of the `p` subset, one row per profile. */
  def pngProfileParts(spark: SparkSession, docs: DataFrame): DataFrame =
    partsOf(subsetRefs(docs, "p").filter(col("media_ref").endsWith("/0")))(processProfiles)
}
