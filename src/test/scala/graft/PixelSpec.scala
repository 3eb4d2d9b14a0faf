package graft

import graft.operators.PixelOps
import graft.vision.PixelKernel
import graft.vision.PixelKernel.Rgb
import org.scalatest.funsuite.AnyFunSuite

/** Pixel kernel invariants, mirroring the reference's vision tests
  * (ref crates/core/tests/vision_weights.rs: global-view parity,
  * tile counts, resample agreement).
  */
class PixelSpec extends AnyFunSuite {

  private def ruleImg(ref: String, w: Int, h: Int): Rgb =
    PixelOps.rulePixels(ref, w, h)

  test("PNG round trip: every filter type decodes back to the source") {
    for ((w, h) <- Seq((16, 16), (32, 16), (16, 32), (32, 32), (7, 5));
         f <- -1 to 4) {
      val img = ruleImg(s"img://$w/$h", w, h)
      val filterOf: Int => Int = if (f < 0) (_ % 5) else (_ => f)
      val dec = PixelKernel.decodePng(PixelKernel.encodePng(img, filterOf))
      assert(dec.w == w && dec.h == h)
      assert(dec.data.sameElements(img.data), s"mismatch at ${w}x$h filter $f")
    }
  }

  // ---- PNG profile space (palette / grayscale / 16-bit / Adam7) ----

  test("PNG profiles: alpha, 16-bit, and interlace variants decode to their base profile's pixels") {
    val parts = PixelOps.processProfiles("img://77/0")
    val fp = parts.map(p => p.profile -> p.pix_fp).toMap
    assert(fp("adam7") == fp("truecolor"))
    assert(fp("rgba8") == fp("truecolor"))
    assert(fp("rgb16") == fp("truecolor"))
    assert(fp("gray8_adam7") == fp("gray8"))
    assert(fp("gray16") == fp("gray8"))
    assert(fp("graya8") == fp("gray8"))
    // distinct content profiles must NOT collide
    assert(Seq("truecolor", "gray8", "gray1", "gray4", "palette8",
      "palette4_adam7").map(fp).distinct.size == 6)
  }

  test("PNG profiles: cross-decoder parity with JDK ImageIO on every profile") {
    import graft.vision.PixelKernel._
    val s = 113
    val (w, h) = (19, 13)
    def grid(ch: Int)(f: (Int, Int) => Seq[Int]): Array[Int] =
      (0 until h).flatMap(y => (0 until w).flatMap(x => f(x, y))).toArray
    val rgb = grid(3)((x, y) => Seq((7 * x + 13 * y + s) % 256,
      (11 * x + 3 * y + 2 * s) % 256, (x + y + 3 * s) % 256))
    val gray = grid(1)((x, y) => Seq((7 * x + 13 * y + s) % 256))
    val pal = (0 until 256).flatMap(i =>
      Seq((7 * i + s) % 256, (11 * i + 2 * s) % 256, (i + 3 * s) % 256))
      .map(_.toByte).toArray
    val variants: Seq[(String, Array[Byte])] = Seq(
      "truecolor" -> encodePngEx(w, h, 2, 8, rgb, Array.empty, false),
      "adam7" -> encodePngEx(w, h, 2, 8, rgb, Array.empty, true),
      "rgb16" -> encodePngEx(w, h, 2, 16, rgb.map(v => (v << 8) | (v ^ 0x5a)),
        Array.empty, false),
      "rgba8" -> encodePngEx(w, h, 6, 8,
        grid(4)((x, y) => Seq((7 * x + 13 * y + s) % 256,
          (11 * x + 3 * y + 2 * s) % 256, (x + y + 3 * s) % 256,
          (x + 2 * y) % 256)), Array.empty, false),
      "gray8" -> encodePngEx(w, h, 0, 8, gray, Array.empty, false),
      "gray8_adam7" -> encodePngEx(w, h, 0, 8, gray, Array.empty, true),
      "gray16" -> encodePngEx(w, h, 0, 16, gray.map(v => (v << 8) | (v ^ 0x33)),
        Array.empty, false),
      "graya8" -> encodePngEx(w, h, 4, 8,
        grid(2)((x, y) => Seq((7 * x + 13 * y + s) % 256, (x + y) % 256)),
        Array.empty, false),
      "gray1" -> encodePngEx(w, h, 0, 1, grid(1)((x, y) => Seq((x + y) % 2)),
        Array.empty, false),
      "gray2" -> encodePngEx(w, h, 0, 2, grid(1)((x, y) => Seq((x + 2 * y) % 4)),
        Array.empty, false),
      "gray4" -> encodePngEx(w, h, 0, 4, grid(1)((x, y) => Seq((x + 3 * y) % 16)),
        Array.empty, false),
      "palette8" -> encodePngEx(w, h, 3, 8,
        grid(1)((x, y) => Seq((3 * x + 5 * y + s) % 256)), pal, false),
      "palette4" -> encodePngEx(w, h, 3, 4,
        grid(1)((x, y) => Seq((x + 2 * y) % 16)), pal.take(48), false),
      "palette4_adam7" -> encodePngEx(w, h, 3, 4,
        grid(1)((x, y) => Seq((x + 2 * y) % 16)), pal.take(48), true),
      "palette2" -> encodePngEx(w, h, 3, 2,
        grid(1)((x, y) => Seq((x + y) % 4)), pal.take(12), false),
      "palette1_adam7" -> encodePngEx(w, h, 3, 1,
        grid(1)((x, y) => Seq((x + y) % 2)), pal.take(6), true))
    variants.foreach { case (name, bytes) =>
      val ours = decodePng(bytes)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"$name: ImageIO could not read")
      assert(img.getWidth == w && img.getHeight == h, name)
      val raster = img.getRaster
      val cm = img.getColorModel
      val isPalette = cm.isInstanceOf[java.awt.image.IndexColorModel]
      val is16 = cm.getComponentSize(0) == 16
      val bands = raster.getNumBands
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val ourV = ours.data((y * w + x) * 3 + c) & 0xff
        val ref =
          if (isPalette) {
            val icm = cm.asInstanceOf[java.awt.image.IndexColorModel]
            val idx = raster.getSample(x, y, 0)
            c match {
              case 0 => icm.getRed(idx); case 1 => icm.getGreen(idx)
              case _ => icm.getBlue(idx)
            }
          } else {
            // gray images: one band (plus alpha); rgb: three (plus alpha)
            val band = if (bands <= 2) 0 else c
            val v = raster.getSample(x, y, band)
            if (is16) v >>> 8 else v * (bands match {
              case _ if cm.getComponentSize(0) == 1 => 255
              case _ if cm.getComponentSize(0) == 2 => 85
              case _ if cm.getComponentSize(0) == 4 => 17
              case _ => 1
            })
          }
        assert(ourV == ref, s"$name ($x,$y,c$c): ours=$ourV imageio=$ref")
      }
    }
  }

  test("PNG fuzz: garbage / mutated / truncated profile streams terminate structurally") {
    val rng = new scala.util.Random(43)
    val seeds = PixelOps.processProfiles("img://55/0") // 12 valid profiles
    val valids = {
      import graft.vision.PixelKernel._
      val s = PixelOps.seed("px", "img://55/0")
      val g = (0 until 13).flatMap(y => (0 until 19).map(x =>
        (7 * x + 13 * y + s) % 256)).toArray
      Seq(
        encodePngEx(19, 13, 0, 8, g, Array.empty, false),
        encodePngEx(19, 13, 0, 8, g, Array.empty, true),
        encodePngEx(19, 13, 3, 4, g.map(_ % 16), Array.fill(48)(7.toByte), true))
    }
    assert(seeds.nonEmpty)
    for (trial <- 0 until 300) {
      val base = valids(trial % valids.size)
      val bytes = trial % 3 match {
        case 0 => Array.fill(rng.nextInt(120) + 1)(rng.nextInt(256).toByte)
        case 1 =>
          val b = base.clone()
          b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
          b
        case _ => java.util.Arrays.copyOf(base, rng.nextInt(base.length) + 1)
      }
      // property: always terminates; failures are structured
      // RuntimeExceptions, never a hang or a multi-GB allocation
      try PixelKernel.decodePng(bytes)
      catch { case _: RuntimeException => () }
    }
  }

  test("PNG decode verifies CRCs and rejects corrupt bytes") {
    val img = ruleImg("img://9/9", 16, 16)
    val png = PixelKernel.encodePng(img)
    val bad = png.clone()
    bad(40) = (bad(40) ^ 0x7f).toByte // inside IDAT payload
    intercept[IllegalArgumentException] {
      PixelKernel.decodePng(bad)
    }
    intercept[IllegalArgumentException] {
      PixelKernel.decodePng("nope".getBytes)
    }
  }

  test("coeffs: identity scale is a single full-weight tap; rows sum to 2^22") {
    val id = PixelKernel.computeCoeffs(16, 16)
    id.zipWithIndex.foreach { case (t, oi) =>
      val nz = t.weights.zipWithIndex.filter(_._1 != 0)
      assert(nz.length == 1 && nz.head._1 == (1 << 22))
      assert(t.xmin + nz.head._2 == oi)
    }
    for ((in, out) <- Seq((16, 8), (32, 16), (64, 32))) {
      PixelKernel.computeCoeffs(in, out).foreach { t =>
        val sum = t.weights.map(_.toLong).sum
        assert(math.abs(sum - (1L << 22)) <= t.weights.length,
          s"weights sum $sum for $in->$out")
      }
    }
  }

  test("resize: identity is exact; constant images stay constant") {
    val img = ruleImg("img://1/0", 32, 32)
    assert(PixelKernel.resizeBicubic(img, 32, 32).data.sameElements(img.data))
    for (v <- Seq(0, 1, 127, 200, 255)) {
      val const = Rgb(32, 32, Array.fill(32 * 32 * 3)(v.toByte))
      val out = PixelKernel.resizeBicubic(const, 16, 16)
      assert(out.data.forall(b => (b & 0xff) == v), s"constant $v drifted")
    }
  }

  test("resize: downscale-by-2 of a linear ramp hits ramp midpoints (interior)") {
    // bicubic a=-0.5 reproduces linear signals exactly away from edges
    val w = 32; val h = 8
    val data = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      data((y * w + x) * 3 + c) = (8 * x).toByte // 0..248 ramp in x
    val out = PixelKernel.resizeBicubic(Rgb(w, h, data), 16, 4)
    for (x <- 2 until 14) {
      val expected = 16 * x + 4 // ramp at the window center (2x+0.5)*8
      val got = out.data(x * 3) & 0xff
      assert(math.abs(got - expected) <= 1, s"col $x: $got vs $expected")
    }
  }

  test("global view: letterbox gray bands, centered paste, exact dims") {
    val img = ruleImg("img://2/0", 16, 32) // rw=1, rh=2 -> new 8x16, xoff 4
    val gv = PixelKernel.buildGlobalView(img, 16)
    assert(gv.w == 16 && gv.h == 16)
    for (y <- 0 until 16; x <- (0 until 4) ++ (12 until 16); c <- 0 until 3)
      assert((gv.data((y * 16 + x) * 3 + c) & 0xff) == 127, s"($x,$y) not gray")
    // center region equals the direct 8x16 resize
    val resized = PixelKernel.resizeBicubic(img, 8, 16)
    for (y <- 0 until 16; x <- 0 until 8; c <- 0 until 3)
      assert(gv.data((y * 16 + x + 4) * 3 + c) == resized.data((y * 8 + x) * 3 + c))
    // square input -> pure resize, no gray anywhere guaranteed only for
    // identity: 16x16 input is pasted verbatim
    val sq = ruleImg("img://3/0", 16, 16)
    assert(PixelKernel.buildGlobalView(sq, 16).data.sameElements(sq.data))
  }

  test("tiles: crops reproduce the pixel rule at their offsets") {
    val ref = "img://4/0"
    val img = ruleImg(ref, 32, 32)
    val tiles = PixelKernel.cropTiles(img, 16)
    assert(tiles.length == 4)
    for (ti <- 0 until 4) {
      val x0 = (ti % 2) * 16; val y0 = (ti / 2) * 16
      for (y <- 0 until 16; x <- 0 until 16; c <- 0 until 3)
        assert(tiles(ti).data((y * 16 + x) * 3 + c) ==
          img.data(((y0 + y) * 32 + x0 + x) * 3 + c))
    }
  }

  test("checksums: hand-computed 1x1 case; CHW vs interleaved orders differ") {
    val px = Rgb(1, 1, Array[Byte](10, 20, 30))
    // pix: fold over [10,20,30] = (10*31+20)*31+30
    assert(PixelKernel.pixelChecksum(px) == ((10L * 31 + 20) * 31 + 30))
    // norm: fold over CHW numerators [20,40,60]
    assert(PixelKernel.normChecksum(px) == ((20L * 31 + 40) * 31 + 60))
    val twoPx = Rgb(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))
    // interleaved [1,2,3,4,5,6] vs CHW doubled [2,8,4,10,6,12]
    assert(PixelKernel.pixelChecksum(twoPx) != PixelKernel.normChecksum(twoPx))
  }

  test("kernel is size-generic: reference 640-px geometry end-to-end") {
    // the mm_pixels query runs 16-px geometry for oracle tractability;
    // the kernel itself must handle the reference's real sizes
    // (preprocess.rs image_size=640, model base_size=640). One 1280x640
    // image (ratio 2x1): encode->decode round trip, 2 tiles + thumbnail
    // path shape, letterboxed global view with exact gray bands.
    val img = ruleImg("img://full/0", 1280, 640)
    val dec = PixelKernel.decodePng(PixelKernel.encodePng(img))
    assert(dec.data.sameElements(img.data))
    val tiles = PixelKernel.cropTiles(PixelKernel.resizeBicubic(dec, 1280, 640), 640)
    assert(tiles.length == 2 && tiles.forall(t => t.w == 640 && t.h == 640))
    val gv = PixelKernel.buildGlobalView(dec, 640)
    assert(gv.w == 640 && gv.h == 640)
    // scale 0.5 -> new 640x320, yoff = 160: rows 0..159 and 480..639 gray
    for (y <- Seq(0, 100, 159, 480, 600, 639); x <- Seq(0, 320, 639))
      assert((gv.data((y * 640 + x) * 3) & 0xff) == 127, s"($x,$y)")
    // pasted band is the direct 640x320 bicubic downscale
    val resized = PixelKernel.resizeBicubic(dec, 640, 320)
    for (y <- Seq(160, 300, 479); x <- Seq(0, 111, 639); c <- 0 until 3)
      assert(gv.data((y * 640 + x) * 3 + c) ==
        resized.data(((y - 160) * 640 + x) * 3 + c), s"($x,$y,$c)")
  }

  test("processRef: rw*rh tiles + global, all 16x16, deterministic") {
    val ref = "img://100/0"
    val parts = PixelOps.processRef(ref)
    val (rw, rh) = PixelOps.ratio("p", ref)
    assert(parts.length == rw * rh + 1)
    assert(parts.last.part == "global")
    assert(parts.forall(p => p.width == 16 && p.height == 16))
    assert(parts == PixelOps.processRef(ref)) // determinism
  }
}
