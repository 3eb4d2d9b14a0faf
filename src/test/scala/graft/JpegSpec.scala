package graft

import graft.operators.PixelOps
import graft.vision.JpegKernel
import graft.vision.JpegKernel.Gray
import graft.vision.PixelKernel.Rgb
import org.scalatest.funsuite.AnyFunSuite

class JpegSpec extends AnyFunSuite {

  private def randGray(w: Int, h: Int, seed: Int): Gray = {
    val rng = new scala.util.Random(seed)
    Gray(w, h, Array.fill(w * h)(rng.nextInt(256).toByte))
  }

  /** Luma plane of a decoded (replicated-RGB) grayscale image. */
  private def luma(img: Rgb): Array[Int] =
    Array.tabulate(img.w * img.h)(i => img.data(i * 3) & 0xff)

  test("block-constant images round trip bit-exactly (the oracle contract)") {
    // constant 8x8 blocks → AC quantizes to 0, DC = 8(v-128) divides the
    // step-8 quantizer → decode must reproduce the rule EXACTLY, even for
    // non-multiple-of-8 dims (edge replication keeps partial blocks constant)
    for ((w, h) <- Seq((16, 16), (32, 16), (32, 32), (20, 12), (9, 25))) {
      val img = Gray(w, h, Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((5 * (x / 8) + 9 * (y / 8) + 77) % 256).toByte
      })
      for (ri <- Seq(0, 2)) { // with and without restart markers
        val dec = JpegKernel.decodeJpeg(JpegKernel.encodeGray(img,
          JpegKernel.DcExactQuant, restartInterval = ri))
        assert(dec.w == w && dec.h == h)
        assert(luma(dec).sameElements(img.data.map(_ & 0xff)),
          s"block-constant ${w}x$h ri=$ri not exact")
      }
    }
  }

  test("entropy layer round trips coefficients exactly (incl. restarts)") {
    // random images produce dense AC runs, ZRL, EOB, negative categories;
    // the decoded dequantized blocks must equal quantize(img) * quant
    for ((w, h, ri) <- Seq((16, 16, 0), (40, 24, 0), (64, 64, 3), (17, 9, 1))) {
      val img = randGray(w, h, seed = w * 31 + h + ri)
      val quant = JpegKernel.DcExactQuant
      val expected = JpegKernel.quantizeBlocks(img, quant)
      val got = JpegKernel.decodeCoefficients(
        JpegKernel.encodeGray(img, quant, restartInterval = ri))
      assert(got.w == w && got.h == h)
      val (_, blocks) = got.comps.head
      assert(blocks.length == expected.length)
      for (b <- expected.indices; i <- 0 until 64)
        assert(blocks(b)(i) == expected(b)(i) * quant(i),
          s"coef mismatch block $b idx $i (${w}x$h ri=$ri)")
    }
  }

  test("flat quant table carries every coefficient through the bitstream") {
    val img = randGray(24, 24, seed = 5)
    val expected = JpegKernel.quantizeBlocks(img, JpegKernel.FlatQuant)
    val got = JpegKernel.decodeCoefficients(
      JpegKernel.encodeGray(img, JpegKernel.FlatQuant))
    val (_, blocks) = got.comps.head
    for (b <- expected.indices; i <- 0 until 64)
      assert(blocks(b)(i) == expected(b)(i))
  }

  test("cross-decoder parity: ImageIO reads our bitstream to within ±1") {
    // the JDK's JPEG codec is an independent implementation; IDCTs may
    // differ by at most 1/pixel between spec-compliant decoders
    val img = randGray(48, 32, seed = 11)
    val bytes = JpegKernel.encodeGray(img, JpegKernel.DcExactQuant, restartInterval = 4)
    val theirs = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(theirs != null, "ImageIO could not parse our bitstream")
    assert(theirs.getWidth == 48 && theirs.getHeight == 32)
    val ours = luma(JpegKernel.decodeJpeg(bytes))
    var maxDiff = 0
    for (y <- 0 until 32; x <- 0 until 48) {
      val t = theirs.getRaster.getSample(x, y, 0)
      maxDiff = math.max(maxDiff, math.abs(t - ours(y * 48 + x)))
    }
    assert(maxDiff <= 1, s"max per-pixel diff vs ImageIO: $maxDiff")
  }

  test("cross-encoder parity: our decoder reads an ImageIO bitstream") {
    // a foreign baseline stream (libjpeg-derived writer: its own quant
    // scaling, its own FDCT) — decode it and compare against ImageIO's
    // own re-decode of the same bytes, again within IDCT tolerance
    val w = 40; val h = 40
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rng = new scala.util.Random(13)
    for (y <- 0 until h; x <- 0 until w)
      src.getRaster.setSample(x, y, 0, rng.nextInt(256))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpeg", bos))
    val bytes = bos.toByteArray
    val ours = luma(JpegKernel.decodeJpeg(bytes))
    val theirs = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w)
      maxDiff = math.max(maxDiff,
        math.abs(theirs.getRaster.getSample(x, y, 0) - ours(y * w + x)))
    assert(maxDiff <= 1, s"max per-pixel diff decoding ImageIO stream: $maxDiff")
  }

  test("4:4:4 color: coefficient round trip and self-consistent pixels") {
    val rng = new scala.util.Random(17)
    val w = 24; val h = 16
    val rgb = Rgb(w, h, Array.fill(w * h * 3)(rng.nextInt(256).toByte))
    // flat quant: DCT round-off ≤0.5/coef, so residual error is just the
    // two YCbCr color-transform roundings — a plane swap or upsample
    // indexing bug blows way past this bound
    val bytes = JpegKernel.encodeRgb444(rgb, JpegKernel.FlatQuant)
    val coefs = JpegKernel.decodeCoefficients(bytes)
    assert(coefs.comps.length == 3)
    assert(coefs.comps.forall(_._2.length == (w / 8) * (h / 8)))
    val dec = JpegKernel.decodeJpeg(bytes)
    assert(dec.w == w && dec.h == h)
    val maxErr = (0 until w * h * 3).map(i =>
      math.abs((dec.data(i) & 0xff) - (rgb.data(i) & 0xff))).max
    assert(maxErr <= 16, s"4:4:4 reconstruction error too large: $maxErr")
  }

  test("our decoder reads an ImageIO 4:2:0 color stream (smooth image)") {
    // ImageIO writes color as subsampled YCbCr; with the libjpeg-exact
    // triangle (fancy) chroma upsample the two decoders agree to within
    // IDCT rounding even through subsampling — tolerances tightened from
    // mean 1.5 / max 12 (replication era) to mean 0.05 / max 2
    val w = 32; val h = 32
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      src.getRaster.setSample(x, y, 0, 60 + x * 2) // R
      src.getRaster.setSample(x, y, 1, 40 + y * 2) // G
      src.getRaster.setSample(x, y, 2, 128)        // B
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpeg", bos))
    val bytes = bos.toByteArray
    val ours = JpegKernel.decodeJpeg(bytes)
    val theirs = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(ours.w == w && ours.h == h)
    var sumDiff = 0L; var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val t = theirs.getRaster.getSample(x, y, c) // raster order R,G,B
      val o = ours.data((y * w + x) * 3 + c) & 0xff
      val d = math.abs(t - o)
      sumDiff += d; maxDiff = math.max(maxDiff, d)
    }
    val mean = sumDiff.toDouble / (w * h * 3)
    assert(mean <= 0.05, s"mean diff vs ImageIO 4:2:0 decode: $mean (max $maxDiff)")
    assert(maxDiff <= 2, s"max diff vs ImageIO 4:2:0 decode: $maxDiff")
  }

  // ------------------------------------------------ progressive (SOF2)

  test("progressive: our encode round-trips bit-identically to baseline (restarts, DC approximation, EOB runs)") {
    val g = graft.operators.PixelOps.ruleJpegGray("img://3/0", 37, 29)
    val base = JpegKernel.decodeJpeg(
      JpegKernel.encodeGray(g, JpegKernel.DcExactQuant, restartInterval = 2))
    val prog = JpegKernel.decodeJpeg(
      JpegKernel.encodeGrayProgressive(g, JpegKernel.DcExactQuant, restartInterval = 2))
    assert(prog.data.sameElements(base.data))
    assert(prog.data.sameElements(JpegKernel.toRgb(g).data),
      "block-constant rule must survive the progressive codec bit-exactly")
    // dense-AC content through spectral selection + DC approximation
    val noisy = randGray(24, 16, 7)
    val nb = JpegKernel.decodeJpeg(JpegKernel.encodeGray(noisy, JpegKernel.FlatQuant))
    val np = JpegKernel.decodeJpeg(JpegKernel.encodeGrayProgressive(noisy,
      JpegKernel.FlatQuant, scans = Seq((0, 0, 0, 1), (1, 5, 0, 0), (6, 63, 0, 0), (0, 0, 1, 0))))
    assert(np.data.sameElements(nb.data),
      "progressive scan split must reconstruct the same coefficients as one baseline scan")
  }

  test("progressive: our decoder reads ImageIO-written SOF2 streams (incl. AC refinement scans)") {
    def writeJpeg(img: java.awt.image.BufferedImage, progressive: Boolean): Array[Byte] = {
      val ios = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      if (progressive) p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(ios))
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.toByteArray
    }
    // grayscale: libjpeg's standard progressive script uses spectral
    // selection AND successive approximation on AC — the refinement
    // decode path gets real coverage here
    val w = 40; val h = 24
    val gimg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gimg.getRaster.setSample(x, y, 0, (7 * x + 13 * y) % 256)
    val gbytes = writeJpeg(gimg, progressive = true)
    assert(gbytes.sliding(2).exists(a =>
      (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xc2), "writer must emit SOF2")
    val gours = JpegKernel.decodeJpeg(gbytes)
    val gref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gbytes))
    var gmax = 0
    for (y <- 0 until h; x <- 0 until w)
      gmax = math.max(gmax, math.abs((gours.data((y * w + x) * 3) & 0xff) -
        gref.getRaster.getSample(x, y, 0)))
    assert(gmax <= 1, s"gray progressive parity: max diff $gmax")
    // color 4:2:0 progressive: smooth gradients, same tolerance as the
    // baseline 4:2:0 parity test
    val cimg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = 40 + (150 * x) / w; val g2 = 30 + (170 * y) / h
      val b = 60 + (80 * (x + y)) / (w + h)
      cimg.setRGB(x, y, (r << 16) | (g2 << 8) | b)
    }
    val cbytes = writeJpeg(cimg, progressive = true)
    val cours = JpegKernel.decodeJpeg(cbytes)
    val cref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cbytes))
    var cmax = 0; var csum = 0L
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val rgb = cref.getRGB(x, y)
      val rv = c match {
        case 0 => (rgb >> 16) & 0xff; case 1 => (rgb >> 8) & 0xff; case _ => rgb & 0xff
      }
      val d = math.abs((cours.data((y * w + x) * 3 + c) & 0xff) - rv)
      cmax = math.max(cmax, d); csum += d
    }
    assert(cmax <= 2 && csum.toDouble / (w * h * 3) <= 0.05,
      s"color progressive parity: max $cmax mean ${csum.toDouble / (w * h * 3)}")
  }

  test("progressive fuzz: mutated and truncated SOF2 streams terminate structurally") {
    val rng = new scala.util.Random(59)
    val valid = JpegKernel.encodeGrayProgressive(randGray(32, 24, 13),
      JpegKernel.FlatQuant, restartInterval = 3)
    for (trial <- 0 until 200) {
      val bytes = trial % 3 match {
        case 0 => Array.fill(rng.nextInt(200) + 2)(rng.nextInt(256).toByte)
        case 1 =>
          val b = valid.clone()
          b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
          b
        case _ => java.util.Arrays.copyOf(valid, rng.nextInt(valid.length) + 2)
      }
      try JpegKernel.decodeJpeg(bytes)
      catch { case _: RuntimeException => () }
    }
  }

  test("fuzz: mutated and garbage bitstreams terminate with structured errors") {
    val rng = new scala.util.Random(97)
    val valid = JpegKernel.encodeGray(randGray(32, 24, 41),
      JpegKernel.DcExactQuant, restartInterval = 2)
    var decodedOk = 0
    for (trial <- 0 until 200) {
      val bytes = trial % 4 match {
        case 0 => Array.fill(rng.nextInt(200) + 2)(rng.nextInt(256).toByte)
        case 1 => // single byte flip anywhere
          val b = valid.clone()
          b(rng.nextInt(b.length)) = (b(rng.nextInt(b.length)) ^ (1 << rng.nextInt(8))).toByte
          b
        case 2 => java.util.Arrays.copyOf(valid, rng.nextInt(valid.length) + 1)
        case _ => // splice random segment lengths into the header zone
          val b = valid.clone()
          b(rng.nextInt(20) + 2) = rng.nextInt(256).toByte
          b
      }
      // the property: ALWAYS terminates, failures are structured
      // RuntimeExceptions (never a hang, never a multi-GB allocation)
      try { JpegKernel.decodeJpeg(bytes); decodedOk += 1 }
      catch { case _: RuntimeException => () }
    }
    assert(decodedOk >= 0) // property is termination; count is informational
  }

  test("implausible SOF dimensions are rejected before allocation") {
    val valid = JpegKernel.encodeGray(randGray(16, 16, 5))
    // SOF0 of this layout sits after SOI(2) + APP0(18) + DQT(69): find it
    val sof = {
      var i = 2
      while (!((valid(i) & 0xff) == 0xff && (valid(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    val b = valid.clone()
    // h := 0xffff, w := 0xffff → 4.3G pixels
    b(sof + 5) = 0xff.toByte; b(sof + 6) = 0xff.toByte
    b(sof + 7) = 0xff.toByte; b(sof + 8) = 0xff.toByte
    val e = intercept[IllegalArgumentException] { JpegKernel.decodeJpeg(b) }
    assert(e.getMessage.contains("implausible frame"))
  }

  test("single-component scans are non-interleaved (T.81 A.2)") {
    // a grayscale frame declaring 2x2 sampling factors (e.g. jpegtran
    // -grayscale keeping luma's factors from a 4:2:0 source) must decode
    // identically to the 1x1 declaration: one-component scans ignore
    // sampling and run ceil(dim/8) data units row-major
    val img = randGray(24, 24, seed = 77)
    val bytes = JpegKernel.encodeGray(img, JpegKernel.DcExactQuant)
    val expected = luma(JpegKernel.decodeJpeg(bytes))
    val patched = bytes.clone()
    val sof = {
      var i = 2
      while (!((patched(i) & 0xff) == 0xff && (patched(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    assert((patched(sof + 11) & 0xff) == 0x11, "sampling byte offset moved")
    patched(sof + 11) = 0x22.toByte
    val got = luma(JpegKernel.decodeJpeg(patched))
    assert(got.sameElements(expected),
      "2x2-sampled single-component scan must decode like 1x1")
  }

  test("truncated and non-JPEG inputs fail cleanly") {
    intercept[IllegalArgumentException] {
      JpegKernel.decodeJpeg("not a jpeg at all".getBytes)
    }
    val ok = JpegKernel.encodeGray(randGray(16, 16, 3))
    intercept[RuntimeException] { // any structured failure, never a hang
      JpegKernel.decodeJpeg(java.util.Arrays.copyOf(ok, ok.length / 2))
    }
  }

  test("processJpeg emits the right part set per grid") {
    val parts = PixelOps.processJpeg("img://0/0")
    val (rw, rh) = PixelOps.ratio("j", "img://0/0")
    assert(parts.length == rw * rh + 1)
    assert(parts.last.part == "global")
    assert(parts.forall(p => p.pix_fp >= 0 && p.norm_fp >= 0))
  }

  test("cmyk: block-constant planes fold to RGB bit-exactly (the oracle contract)") {
    for (rw <- 1 to 2; rh <- 1 to 2) {
      val ref = s"img://$rw$rh/0"
      val w = 16 * rw; val h = 16 * rh
      val planes = Array.tabulate(4) { c =>
        val s = PixelOps.seed(s"jc$c", ref)
        Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          ((5 * (x / 8) + 9 * (y / 8) + s) % 256).toByte
        }
      }
      val dec = JpegKernel.decodeJpeg(JpegKernel.encodeCmyk(w, h, planes))
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val vc = planes(c)(y * w + x) & 0xff
        val vk = planes(3)(y * w + x) & 0xff
        val want = (2 * vc * vk + 255) / 510
        assert((dec.data((y * w + x) * 3 + c) & 0xff) == want,
          s"$ref pixel ($x,$y,$c) not the exact ink fold")
      }
    }
  }

  test("cmyk: without an APP14 marker the planes are plain inks, never folded as inverted") {
    val w = 16; val h = 16
    val planes = Array.tabulate(4) { c =>
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((5 * (x / 8) + 9 * (y / 8) + 61 * (c + 1)) % 256).toByte
      }
    }
    val marked = JpegKernel.encodeCmyk(w, h, planes)
    // the APP14 segment follows SOI: FF EE, then its big-endian length
    assert((marked(2) & 0xff) == 0xff && (marked(3) & 0xff) == 0xee)
    val app14 = 2 + ((marked(4) & 0xff) << 8 | (marked(5) & 0xff))
    val unmarked = marked.take(2) ++ marked.drop(2 + app14)
    val dec = JpegKernel.decodeJpeg(unmarked)
    val inverted = JpegKernel.decodeJpeg(marked)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val i = y * w + x
      val ic = 255 - (planes(c)(i) & 0xff)
      val ik = 255 - (planes(3)(i) & 0xff)
      assert((dec.data(i * 3 + c) & 0xff) == (2 * ic * ik + 255) / 510,
        s"unmarked pixel ($x,$y,$c) not the plain-ink fold")
    }
    assert(!dec.data.sameElements(inverted.data), "unmarked decode equals the inverted-ink fold")
  }

  test("cmyk: ImageIO readRaster sees our four stored planes verbatim") {
    val w = 24; val h = 16
    val rng = new scala.util.Random(31)
    // block-constant random planes (DC-exact) — raster parity proves the
    // 4-component interleave + APP14 wire format against libjpeg's reader
    val planes = Array.fill(4) {
      val bvals = Array.fill((h / 8) * (w / 8))(rng.nextInt(256))
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        bvals((y / 8) * (w / 8) + x / 8).toByte
      }
    }
    val bytes = JpegKernel.encodeCmyk(w, h, planes)
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val raster = rd.readRaster(0, null)
    assert(raster.getNumBands == 4 && raster.getWidth == w && raster.getHeight == h)
    for (y <- 0 until h; x <- 0 until w; b <- 0 until 4)
      assert(raster.getSample(x, y, b) == (planes(b)(y * w + x) & 0xff),
        s"stored sample ($x,$y,$b) differs vs ImageIO readRaster")
  }

  test("cmyk: YCCK (transform 2) inverts to within transform rounding") {
    val w = 16; val h = 16
    val base = Array.tabulate(4) { c =>
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((5 * (x / 8) + 9 * (y / 8) + 37 * (c + 1)) % 256).toByte
      }
    }
    // forward-convert the first three stored planes to YCbCr (YCCK wire)
    def cl(v: Double): Byte = math.max(0, math.min(255, math.round(v))).toByte
    val ycck = Array.tabulate(4) { c =>
      if (c == 3) base(3)
      else Array.tabulate(w * h) { i =>
        val r = base(0)(i) & 0xff; val g = base(1)(i) & 0xff; val b = base(2)(i) & 0xff
        c match {
          case 0 => cl(0.299 * r + 0.587 * g + 0.114 * b)
          case 1 => cl(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
          case _ => cl(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        }
      }
    }
    val dec = JpegKernel.decodeJpeg(JpegKernel.encodeCmyk(w, h, ycck, transform = 2))
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val vc = base(c)(y * w + x) & 0xff
      val vk = base(3)(y * w + x) & 0xff
      val want = (2 * vc * vk + 255) / 510
      val got = dec.data((y * w + x) * 3 + c) & 0xff
      assert(math.abs(got - want) <= 2,
        s"YCCK pixel ($x,$y,$c): got $got want ~$want")
    }
  }

  test("jpeg rule pixels survive the DC-exact codec at every tile grid") {
    for (rw <- 1 to 2; rh <- 1 to 2) {
      val ref = s"img://$rw$rh/0"
      val img = PixelOps.ruleJpegGray(ref, 16 * rw, 16 * rh)
      val dec = JpegKernel.decodeJpeg(JpegKernel.encodeGray(img,
        JpegKernel.DcExactQuant, restartInterval = 2))
      assert(luma(dec).sameElements(img.data.map(_ & 0xff)),
        s"rule image $ref not bit-exact through JPEG")
    }
  }
}
