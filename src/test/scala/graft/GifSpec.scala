package graft

import graft.operators.PixelOps
import graft.vision.GifKernel
import graft.vision.GifKernel.Indexed
import org.scalatest.funsuite.AnyFunSuite

class GifSpec extends AnyFunSuite {

  private def roundTrip(img: Indexed): Unit = {
    val dec = GifKernel.decodeGif(GifKernel.encodeGif(img))
    assert(dec.w == img.w && dec.h == img.h)
    assert(java.util.Arrays.equals(dec.idx, img.idx), "index raster differs")
    assert(java.util.Arrays.equals(dec.palette, img.palette), "palette differs")
  }

  test("LZW round trip: random rasters across the width-bump boundaries") {
    val rng = new scala.util.Random(7)
    // 90000 random indices force the dictionary through every code width
    // (9→12 bits) and past 4096 entries (CLEAR + reset mid-stream)
    for ((w, h) <- Seq((16, 16), (33, 7), (200, 150), (300, 300))) {
      val idx = Array.fill(w * h)(rng.nextInt(256).toByte)
      roundTrip(Indexed(w, h, idx, PixelOps.gifPalette))
    }
  }

  test("LZW round trip: degenerate rasters (constant, runs, KwKwK chains)") {
    roundTrip(Indexed(100, 100, Array.fill(10000)(0.toByte), PixelOps.gifPalette))
    val ramp = Array.tabulate(64 * 64)(i => (i % 256).toByte)
    roundTrip(Indexed(64, 64, ramp, PixelOps.gifPalette))
    // aaa... of alternating pairs — classic code==nextCode stress
    val ab = Array.tabulate(5000)(i => (i % 2).toByte)
    roundTrip(Indexed(100, 50, ab, PixelOps.gifPalette))
  }

  test("rule images round trip at every tile grid") {
    for (rw <- 1 to 2; rh <- 1 to 2) {
      val img = PixelOps.ruleGifIndexed(s"img://$rw$rh/0", 16 * rw, 16 * rh)
      roundTrip(img)
    }
  }

  test("decoder skips extension blocks (89a graphic control)") {
    val img = PixelOps.ruleGifIndexed("img://42/0", 16, 16)
    val bytes = GifKernel.encodeGif(img)
    // splice a graphic-control extension between the color table and the
    // image descriptor (offset 13 + 768)
    val ext = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0)
    val spliced = bytes.slice(0, 13 + 768) ++ ext ++ bytes.drop(13 + 768)
    val dec = GifKernel.decodeGif(spliced)
    assert(java.util.Arrays.equals(dec.idx, img.idx))
  }

  test("fuzz: garbage / mutated / truncated bitstreams terminate structurally") {
    val rng = new scala.util.Random(41)
    val valid = GifKernel.encodeGif(PixelOps.ruleGifIndexed("img://5/0", 32, 32))
    for (trial <- 0 until 200) {
      val bytes = trial % 3 match {
        case 0 => Array.fill(rng.nextInt(100) + 1)(rng.nextInt(256).toByte)
        case 1 =>
          val b = valid.clone()
          b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
          b
        case _ => java.util.Arrays.copyOf(valid, rng.nextInt(valid.length) + 1)
      }
      // property: always terminates; failures are structured
      // IllegalArgumentExceptions, never a hang, an AIOOBE or a
      // multi-GB allocation
      try GifKernel.decodeGif(bytes)
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("implausible raster dims are rejected before allocation") {
    val valid = GifKernel.encodeGif(PixelOps.ruleGifIndexed("img://6/0", 16, 16))
    // image descriptor starts after header(13) + global table(768)
    val desc = 13 + 768
    assert((valid(desc) & 0xff) == 0x2c)
    val b = valid.clone()
    b(desc + 5) = 0xff.toByte; b(desc + 6) = 0xff.toByte // w = 65535
    b(desc + 7) = 0xff.toByte; b(desc + 8) = 0xff.toByte // h = 65535
    val e = intercept[IllegalArgumentException] { GifKernel.decodeGif(b) }
    assert(e.getMessage.contains("implausible raster"))
  }

  test("interlaced encode decodes to the identical raster (all grids + random)") {
    val rng = new scala.util.Random(11)
    for (rw <- 1 to 2; rh <- 1 to 2) {
      val img = PixelOps.ruleGifIndexed(s"img://$rw$rh/0", 16 * rw, 16 * rh)
      val dec = GifKernel.decodeGif(GifKernel.encodeGif(img, interlaced = true))
      assert(java.util.Arrays.equals(dec.idx, img.idx), s"interlace scramble at ${rw}x$rh")
    }
    // heights that exercise every pass-boundary shape (h < 8 skips
    // passes; odd heights end mid-pass)
    for (h <- Seq(1, 2, 3, 5, 7, 8, 9, 31, 64)) {
      val idx = Array.fill(17 * h)(rng.nextInt(256).toByte)
      val img = Indexed(17, h, idx, PixelOps.gifPalette)
      val dec = GifKernel.decodeGif(GifKernel.encodeGif(img, interlaced = true))
      assert(java.util.Arrays.equals(dec.idx, idx), s"interlace scramble at h=$h")
    }
  }

  test("min code sizes 2..8 round trip, straight and interlaced") {
    val rng = new scala.util.Random(13)
    for (mcs <- 2 to 8; interlaced <- Seq(false, true)) {
      val limit = 1 << mcs
      val idx = Array.fill(40 * 23)(rng.nextInt(limit).toByte)
      val img = Indexed(40, 23, idx, PixelOps.gifPalette)
      val dec = GifKernel.decodeGif(GifKernel.encodeGif(img, mcs, interlaced))
      assert(java.util.Arrays.equals(dec.idx, idx), s"mcs=$mcs interlaced=$interlaced")
    }
    // out-of-range index for the code size is a structured failure
    val bad = Indexed(2, 2, Array[Byte](0, 1, 2, 8), PixelOps.gifPalette)
    intercept[IllegalArgumentException] { GifKernel.encodeGif(bad, minCode = 3) }
    intercept[IllegalArgumentException] { GifKernel.encodeGif(bad, minCode = 1) }
  }

  test("cross-decoder parity: ImageIO reads our interlaced + 4-bit GIFs") {
    val rng = new scala.util.Random(17)
    for ((mcs, interlaced) <- Seq((8, true), (4, false), (4, true), (2, true))) {
      val limit = 1 << mcs
      val w = 31; val h = 19
      val idx = Array.fill(w * h)(rng.nextInt(limit).toByte)
      val img = Indexed(w, h, idx, PixelOps.gifPalette)
      val bytes = GifKernel.encodeGif(img, mcs, interlaced)
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null && bi.getWidth == w && bi.getHeight == h)
      val ours = GifKernel.toRgb(img)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = bi.getRGB(x, y)
        val o = (y * w + x) * 3
        assert(((rgb >> 16) & 0xff) == (ours.data(o) & 0xff) &&
               ((rgb >> 8) & 0xff) == (ours.data(o + 1) & 0xff) &&
               (rgb & 0xff) == (ours.data(o + 2) & 0xff),
          s"pixel ($x,$y) differs vs ImageIO at mcs=$mcs interlaced=$interlaced")
      }
    }
  }

  test("cross-decoder parity: our decoder reads ImageIO-written GIFs") {
    // 16-color indexed image → the JDK GIF writer picks its own code
    // size / table layout; our decode must land on the same RGB pixels
    val pal = new Array[Byte](768)
    for (i <- 0 until 16) {
      pal(i * 3) = (i * 16).toByte
      pal(i * 3 + 1) = ((i * 7) % 256).toByte
      pal(i * 3 + 2) = ((255 - i * 13) % 256).toByte
    }
    val cm = new java.awt.image.IndexColorModel(4, 16,
      pal.grouped(3).map(_(0)).toArray.take(16),
      pal.grouped(3).map(_(1)).toArray.take(16),
      pal.grouped(3).map(_(2)).toArray.take(16))
    val w = 37; val h = 21
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY, cm)
    val rng = new scala.util.Random(23)
    val expect = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val i = rng.nextInt(16)
      expect(y * w + x) = i
      bi.getRaster.setSample(x, y, 0, i)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", bos), "JDK GIF writer unavailable")
    val dec = GifKernel.decodeGif(bos.toByteArray)
    assert(dec.w == w && dec.h == h)
    val rgb = GifKernel.toRgb(dec)
    for (y <- 0 until h; x <- 0 until w) {
      val jdk = bi.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(((jdk >> 16) & 0xff) == (rgb.data(o) & 0xff) &&
             ((jdk >> 8) & 0xff) == (rgb.data(o + 1) & 0xff) &&
             (jdk & 0xff) == (rgb.data(o + 2) & 0xff),
        s"pixel ($x,$y) differs decoding the JDK writer's stream")
    }
  }

  test("local color table overrides the global palette") {
    val img = Indexed(4, 2, Array[Byte](0, 1, 2, 3, 3, 2, 1, 0), PixelOps.gifPalette)
    val base = GifKernel.encodeGif(img, minCode = 2)
    val desc = 13 + 768
    assert((base(desc) & 0xff) == 0x2c)
    // rewrite the descriptor to carry a 4-entry local table (packed
    // 0x81: local flag + size bits 1 → 2<<1 entries), spliced after it
    val local = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val out = base.clone()
    out(desc + 9) = 0x81.toByte
    val spliced = out.slice(0, desc + 10) ++ local ++ out.drop(desc + 10)
    val dec = GifKernel.decodeGif(spliced)
    assert(java.util.Arrays.equals(dec.idx, img.idx))
    for (i <- 0 until 12) assert((dec.palette(i) & 0xff) == local(i),
      s"local table entry $i not honored")
    for (i <- 12 until 768) assert(dec.palette(i) == 0, "tail not zeroed")
  }

  test("interlaced small-code gate matches the straight 8-bit pipeline shape") {
    val ref = "img://0/0"
    val a = PixelOps.processGifInterlaced(ref)
    val b = PixelOps.processGif(ref)
    assert(a == b, "interlaced parts must equal straight-scan parts")
    val small = PixelOps.processGifSmall(ref)
    assert(small.length == b.length && small.map(_.part) == b.map(_.part))
  }

  test("fuzz: interlaced + small-code streams also terminate structurally") {
    val rng = new scala.util.Random(47)
    val valid = GifKernel.encodeGif(
      PixelOps.ruleGifIndexed("img://9/0", 32, 32, 16, "gc"), minCode = 4, interlaced = true)
    for (trial <- 0 until 200) {
      val bytes = trial % 2 match {
        case 0 =>
          val b = valid.clone()
          b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
          b
        case _ => java.util.Arrays.copyOf(valid, rng.nextInt(valid.length) + 1)
      }
      try GifKernel.decodeGif(bytes)
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("animated: sub-rect patches composite with transparency; disposal 2 restores") {
    import GifKernel.AnimFrame
    val pal = PixelOps.gifPalette
    val base = Array.fill(8 * 8)(1.toByte)
    // patch: 2x2 at (3,4) writing 5, with index 9 transparent at (1,0)
    val patch = Array[Byte](5, 9, 5, 5)
    val bytes = GifKernel.encodeGifAnim(8, 8, pal, Seq(
      AnimFrame(0, 0, 8, 8, base),
      AnimFrame(3, 4, 2, 2, patch, transparentIdx = Some(9)),
      AnimFrame(0, 0, 2, 2, Array[Byte](7, 7, 7, 7), disposal = 2),
      AnimFrame(6, 6, 2, 2, Array[Byte](8, 8, 8, 8))))
    val frames = GifKernel.decodeGifAnim(bytes)
    assert(frames.length == 4)
    // frame 0: all 1s
    assert(frames(0).idx.forall(_ == 1))
    // frame 1: patch written except the transparent pixel
    val f1 = frames(1).idx
    assert(f1(4 * 8 + 3) == 5 && f1(4 * 8 + 4) == 1 && f1(5 * 8 + 3) == 5 && f1(5 * 8 + 4) == 5)
    // frame 2 shows the 7s; frame 3's canvas has that rect RESTORED to
    // background (disposal 2) while the rest persists
    assert(frames(2).idx(0) == 7)
    val f3 = frames(3).idx
    assert(f3(0) == 0 && f3(1) == 0 && f3(8) == 0, "disposal-2 rect not restored")
    assert(f3(6 * 8 + 6) == 8 && f3(2) == 1 && f3(5 * 8 + 3) == 5)
  }

  test("animated: cross-decoder parity vs ImageIO on every composited frame") {
    val ref = "img://0/0"
    val (rw, rh) = PixelOps.ratio("g", ref)
    val w = 16 * rw; val h = 16 * rh
    val s = (graft.functions.Hashing.md5i(s"gx|$ref") % 251L).toInt
    val base = PixelOps.ruleGifIndexed(ref, w, h)
    val nf = PixelOps.gifFrameCount(ref)
    val frames = GifKernel.AnimFrame(0, 0, w, h, base.idx) +:
      (1 until nf).map { g =>
        GifKernel.AnimFrame((g * 3) % (w - 8), (g * 5) % (h - 8), 8, 8,
          Array.tabulate(64) { i =>
            val x = i % 8; val y = i / 8
            if ((x + y + g) % 3 == 0) 255.toByte
            else ((7 * x + 3 * y + s + 17 * g) % 255).toByte
          }, interlaced = g % 2 == 1, transparentIdx = Some(255))
      }
    val bytes = GifKernel.encodeGifAnim(w, h, PixelOps.gifPalette, frames)
    val ours = GifKernel.decodeGifAnim(bytes)
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val n = rd.getNumImages(true)
    assert(n == nf && ours.length == nf)
    // composite ImageIO's per-frame rasters the same way (disposal 1)
    val canvas = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = canvas.createGraphics()
    for (f <- 0 until n) {
      val md = rd.getImageMetadata(f).getAsTree("javax_imageio_gif_image_1.0")
      val desc = {
        val kids = md.getChildNodes
        (0 until kids.getLength).map(kids.item)
          .find(_.getNodeName == "ImageDescriptor").get.getAttributes
      }
      val left = desc.getNamedItem("imageLeftPosition").getNodeValue.toInt
      val top = desc.getNamedItem("imageTopPosition").getNodeValue.toInt
      gfx.drawImage(rd.read(f), left, top, null)
      val mine = GifKernel.toRgb(ours(f))
      for (y <- 0 until h; x <- 0 until w) {
        val jdk = canvas.getRGB(x, y)
        val o = (y * w + x) * 3
        assert(((jdk >> 16) & 0xff) == (mine.data(o) & 0xff) &&
               ((jdk >> 8) & 0xff) == (mine.data(o + 1) & 0xff) &&
               (jdk & 0xff) == (mine.data(o + 2) & 0xff),
          s"frame $f pixel ($x,$y) differs vs ImageIO composite")
      }
    }
    gfx.dispose()
  }

  test("animated: local color table and bad blocks fail structurally; fuzz terminates") {
    val rng = new scala.util.Random(59)
    val base = PixelOps.ruleGifIndexed("img://3/0", 16, 16)
    val valid = GifKernel.encodeGifAnim(16, 16, PixelOps.gifPalette,
      Seq(GifKernel.AnimFrame(0, 0, 16, 16, base.idx),
        GifKernel.AnimFrame(2, 2, 4, 4, Array.fill(16)(3.toByte))))
    // rect exceeding the screen is rejected at encode
    intercept[IllegalArgumentException] {
      GifKernel.encodeGifAnim(16, 16, PixelOps.gifPalette,
        Seq(GifKernel.AnimFrame(10, 10, 8, 8, Array.fill(64)(0.toByte))))
    }
    for (trial <- 0 until 200) {
      val bytes = trial % 2 match {
        case 0 =>
          val b = valid.clone()
          b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
          b
        case _ => java.util.Arrays.copyOf(valid, rng.nextInt(valid.length) + 1)
      }
      try GifKernel.decodeGifAnim(bytes)
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("truncated GIF: every proper prefix fails with \"truncated GIF\", never an AIOOBE") {
    val still = GifKernel.encodeGif(PixelOps.ruleGifIndexed("img://4/0", 16, 16))
    val anim = GifKernel.encodeGifAnim(16, 16, PixelOps.gifPalette,
      Seq(GifKernel.AnimFrame(0, 0, 16, 16, PixelOps.ruleGifIndexed("img://4/1", 16, 16).idx),
        GifKernel.AnimFrame(2, 2, 4, 4, Array.fill(16)(3.toByte), disposal = 2)))
    def cutAt(bytes: Array[Byte], n: Int)(decode: Array[Byte] => Any): Unit = {
      val e = intercept[IllegalArgumentException](decode(java.util.Arrays.copyOf(bytes, n)))
      assert(e.getMessage == "truncated GIF", s"prefix of $n bytes: ${e.getMessage}")
    }
    // past the 13-byte header every cut lands in the palette or the block
    // walk; the single-frame decoder never reads the trailer
    (14 until anim.length).foreach(cutAt(anim, _)(GifKernel.decodeGifAnim))
    (14 until still.length - 1).foreach(cutAt(still, _)(GifKernel.decodeGif))
  }

  test("animated: disposal 3 restores the pre-frame canvas; 4..7 fail structured") {
    import GifKernel.AnimFrame
    val base = Array.fill(8 * 8)(1.toByte)
    // frame 1 paints 6s at (0,0) with disposal 3 → frame 2's canvas must
    // show the PRE-frame state again except its own new write
    val bytes = GifKernel.encodeGifAnim(8, 8, PixelOps.gifPalette, Seq(
      AnimFrame(0, 0, 8, 8, base),
      AnimFrame(0, 0, 2, 2, Array[Byte](6, 6, 6, 6), disposal = 3),
      AnimFrame(6, 0, 1, 1, Array[Byte](9))))
    val frames = GifKernel.decodeGifAnim(bytes)
    assert(frames(1).idx(0) == 6, "disposal-3 frame still displays")
    assert(frames(2).idx(0) == 1, "pre-frame canvas not restored")
    assert(frames(2).idx(6) == 9)
    // reserved disposal on the wire (splice 4 into the second GCE)
    intercept[IllegalArgumentException] {
      GifKernel.AnimFrame(0, 0, 1, 1, Array[Byte](0), disposal = 4)
    }
    val gce2 = {
      // find the second 0x21 0xf9 extension introducer
      val first = bytes.indexOfSlice(Seq[Byte](0x21, 0xf9.toByte))
      bytes.indexOfSlice(Seq[Byte](0x21, 0xf9.toByte), first + 1)
    }
    val bad = bytes.clone()
    bad(gce2 + 3) = (4 << 2).toByte
    val e = intercept[IllegalArgumentException] { GifKernel.decodeGifAnim(bad) }
    assert(e.getMessage.contains("reserved disposal"))
  }

  test("animated writer guards small-code index range like the single-frame writer") {
    intercept[IllegalArgumentException] {
      GifKernel.encodeGifAnim(4, 4, PixelOps.gifPalette,
        Seq(GifKernel.AnimFrame(0, 0, 4, 4, Array.fill(16)(16.toByte))), minCode = 4)
    }
  }

  test("animated: implausible frame counts fail structured before allocation") {
    // 64x64 screen → cap is 256MiB/4096B = 65536, clamped to 4096 frames;
    // splice the same 1x1 frame far past the cap and expect a structured
    // failure, not a multi-GB clone pile
    val base = PixelOps.ruleGifIndexed("img://7/0", 64, 64)
    val one = GifKernel.AnimFrame(0, 0, 1, 1, Array[Byte](1))
    val many = Seq.fill(4097)(one)
    val bytes = GifKernel.encodeGifAnim(64, 64, PixelOps.gifPalette,
      GifKernel.AnimFrame(0, 0, 64, 64, base.idx) +: many)
    val e = intercept[IllegalArgumentException] { GifKernel.decodeGifAnim(bytes) }
    assert(e.getMessage.contains("implausible animation"))
  }

  test("processGifFrames samples every 3rd composited frame") {
    val ref = "img://0/0"
    val parts = PixelOps.processGifFrames(ref)
    val nf = PixelOps.gifFrameCount(ref)
    assert(parts.map(_.part) ==
      (0 until nf by PixelOps.FrameSampleStep).map(f => s"frame_$f"))
    assert(parts.forall(p => p.pix_fp >= 0 && p.norm_fp >= 0))
    // frame 0 equals the single-frame base rule checksum
    val baseRgb = GifKernel.toRgb(PixelOps.ruleGifIndexed(ref,
      parts.head.width.toInt, parts.head.height.toInt))
    assert(parts.head.pix_fp == graft.vision.PixelKernel.pixelChecksum(baseRgb))
  }

  test("toRgb expands through the palette exactly") {
    val img = Indexed(2, 1, Array[Byte](0, 255.toByte), PixelOps.gifPalette)
    val rgb = GifKernel.toRgb(img)
    assert(rgb.data.map(_ & 0xff).toSeq ==
      Seq(0, 11, 17, 255, (7 * 255 + 11) % 256, (13 * 255 + 17) % 256))
  }

  test("processGif emits the right part set per grid") {
    val parts = PixelOps.processGif("img://0/0")
    val (rw, rh) = PixelOps.ratio("g", "img://0/0")
    assert(parts.length == rw * rh + 1)
    assert(parts.last.part == "global")
    assert(parts.forall(p => p.pix_fp >= 0 && p.norm_fp >= 0))
  }
}
