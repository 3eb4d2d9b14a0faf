package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PixelOps
import graft.vision.PixelKernel

/** The pixel kernel at the REFERENCE'S SHIPPED GEOMETRY — base_size 1024,
  * image_size 640 (ref crates/config/src/config.rs:89-90) — over an
  * 800×600 rule image. The oracle-gated mm_pixels query runs the same
  * algorithms at 16-px geometry for DuckDB tractability; this spec proves
  * the kernel is size-generic by exercising the full-size path end to
  * end (PNG encode/decode round trip, 2×1 dynamic-ratio resize to
  * 1280×640, 640-px tile crops, 1024-px letterboxed global view,
  * CHW normalization) and pinning the resulting integer checksums as
  * golden regression values.
  */
class PixelRefGeomSpec extends AnyFunSuite {

  private val BaseSize = 1024 // ref config.rs:89
  private val ImageSize = 640 // ref config.rs:90

  private lazy val src = PixelOps.rulePixels("ref-geom", 800, 600)
  private lazy val dec = PixelKernel.decodePng(PixelKernel.encodePng(src))

  test("PNG round trip is lossless at 800x600 (all five row filters)") {
    assert(dec.w == 800 && dec.h == 600)
    assert(PixelKernel.pixelChecksum(dec) == PixelKernel.pixelChecksum(src))
  }

  test("order-free full checksums: position-sensitive, value-sensitive") {
    val img = PixelOps.rulePixels("fullfp", 20, 12)
    val base = PixelKernel.pixelChecksumFull(img)
    val baseN = PixelKernel.normChecksumFull(img)
    // transposing two unequal values changes both checksums
    val swapped = img.copy(data = img.data.clone())
    assert(swapped.data(5) != swapped.data(200))
    val tmp = swapped.data(5)
    swapped.data(5) = swapped.data(200); swapped.data(200) = tmp
    assert(PixelKernel.pixelChecksumFull(swapped) != base)
    assert(PixelKernel.normChecksumFull(swapped) != baseN)
    // a single off-by-one value changes them too
    val bumped = img.copy(data = img.data.clone())
    bumped.data(77) = ((bumped.data(77) + 1) & 0xff).toByte
    assert(PixelKernel.pixelChecksumFull(bumped) != base)
    assert(PixelKernel.normChecksumFull(bumped) != baseN)
    // deterministic
    assert(PixelKernel.pixelChecksumFull(img) == base)
  }

  test("processRefGeomFull emits full-frame checksums for every part") {
    val parts = PixelOps.processRefGeomFull("img://0/0")
    assert(parts.nonEmpty)
    val byPart = parts.map(p => p.part -> p).toMap
    assert(byPart.contains("global"))
    assert(byPart("global").width == 1024 && byPart("global").height == 1024)
    // the full checksums differ from the row-sliced ones (they cover
    // 64x the positions) but describe the same frames
    val sliced = PixelOps.processRefGeom("img://0/0").map(p => p.part -> p).toMap
    assert(sliced.keySet == byPart.keySet)
    assert(byPart("global").pix_fp != sliced("global").pix_fp)
  }

  test("whole-frame and row-slice folds at 800x600 are pinned") {
    assert(PixelKernel.pixelChecksum(dec) == 664722046L)
    assert(PixelKernel.normChecksum(dec) == 180981840L)
    assert(PixelKernel.pixelChecksum(dec, PixelOps.RowStride) == 519732038L)
    assert(PixelKernel.normChecksum(dec, PixelOps.RowStride) == 794210758L)
  }

  test("processRefGeom covers all four tile grids with ref-geometry parts") {
    val combos = scala.collection.mutable.Map.empty[(Int, Int), String]
    var i = 0
    while (combos.size < 4 && i < 400) {
      val ref = s"img://$i/0"
      combos.getOrElseUpdate(PixelOps.ratio("q", ref), ref)
      i += 1
    }
    assert(combos.size == 4, "need refs exercising every {1,2}x{1,2} grid")
    combos.foreach { case ((rw, rh), ref) =>
      val parts = PixelOps.processRefGeom(ref)
      assert(parts.length == rw * rh + 1, s"grid ${rw}x$rh")
      val tiles = parts.filter(_.part.startsWith("tile_"))
      assert(tiles.forall(p => p.width == 640 && p.height == 640))
      val g = parts.last
      assert(g.part == "global" && g.width == 1024 && g.height == 1024)
      // tile_0 of the identity-ratio source is the rule crop itself:
      // replay its sliced pixel fold straight from the closed form
      val s = (graft.functions.Hashing.md5i(s"px|$ref") % 251L).toInt
      var acc = 0L
      var y = 0
      while (y < 640) {
        if (y % PixelOps.RowStride == 0) {
          var x = 0
          while (x < 640) {
            acc = (acc * 31 + (7 * x + 13 * y + s) % 256) % 1000000007L
            acc = (acc * 31 + (11 * x + 3 * y + 2 * s) % 256) % 1000000007L
            acc = (acc * 31 + (x + y + 3 * s) % 256) % 1000000007L
            x += 1
          }
        }
        y += 1
      }
      assert(tiles.head.pix_fp == acc, s"grid ${rw}x$rh tile_0 rule replay")
    }
  }

  test("640-px ratio resize and tile crops (2x1)") {
    val sized = PixelKernel.resizeBicubic(dec, 2 * ImageSize, ImageSize)
    val tiles = PixelKernel.cropTiles(sized, ImageSize)
    assert(tiles.length == 2)
    assert(tiles.forall(t => t.w == ImageSize && t.h == ImageSize))
    assert(PixelKernel.pixelChecksum(tiles(0)) == 772695905L)
    assert(PixelKernel.normChecksum(tiles(0)) == 233339466L)
    assert(PixelKernel.pixelChecksum(tiles(1)) == 608065829L)
    assert(PixelKernel.normChecksum(tiles(1)) == 711793326L)
  }

  test("1024-px letterboxed global view geometry and checksums") {
    val g = PixelKernel.buildGlobalView(dec, BaseSize)
    assert(g.w == BaseSize && g.h == BaseSize)
    // scale = min(1024/800, 1024/600) = 1.28 → content 1024×768, y_off 128:
    // the top and bottom 128 rows are untouched mid-gray canvas
    val base = BaseSize
    def px(x: Int, y: Int, c: Int): Int = g.data((y * base + x) * 3 + c) & 0xff
    for (y <- Seq(0, 127, 896, 1023); x <- Seq(0, 511, 1023); c <- 0 until 3)
      assert(px(x, y, c) == (PixelKernel.CanvasGray & 0xff), s"($x,$y,$c)")
    // first content row is NOT all gray
    assert((0 until base).exists(x =>
      (0 until 3).exists(c => px(x, 128, c) != (PixelKernel.CanvasGray & 0xff))))
    assert(PixelKernel.pixelChecksum(g) == 401581792L)
    assert(PixelKernel.normChecksum(g) == 630324663L)
  }
}
