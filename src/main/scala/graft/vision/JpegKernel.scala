package graft.vision

import graft.vision.PixelKernel.Rgb

/** Baseline JFIF (SOF0) codec, pure JVM — the last pixel format the
  * reference decodes that this engine didn't (ref Cargo.toml:12 pulls the
  * `image` crate; cli/app.rs:95-101 `image::open` handles PNG/JPEG/GIF
  * alike). Same division of labor as the PNG/GIF paths: a REAL entropy
  * layer (canonical Huffman per ITU-T T.81 Annex C/F, byte stuffing,
  * restart markers, DC prediction) feeding dequant → inverse zigzag →
  * exact double-precision IDCT → level shift.
  *
  * Encoder: grayscale or 4:4:4 YCbCr, standard Annex K Huffman tables,
  * caller-supplied quant table, optional restart interval.
  * Decoder: baseline grayscale, 4:4:4 and 4:2:0 (replicated chroma
  * upsample), multi-table DQT/DHT segments, DRI/RSTn, APPn/COM skip.
  *
  * The mm_jpeg_pixels gate rides block-constant images with a DC quant
  * step of 8: a constant 8×8 block has AC≡0 and DC = 8·(v−128), which
  * the step-8 quantizer and the exact IDCT round-trip bit-exactly — so
  * decoded pixels equal the closed-form rule and DuckDB replays them
  * without modeling the DCT. The general-coefficient paths are pinned by
  * JpegSpec instead: coefficient-level entropy round-trips and a
  * cross-decoder parity check against the JDK's ImageIO JPEG codec.
  */
object JpegKernel {

  /** Row-major 8-bit luma plane. */
  final case class Gray(w: Int, h: Int, data: Array[Byte]) {
    require(data.length == w * h, s"gray size ${data.length} != ${w}x$h")
  }

  def toRgb(g: Gray): Rgb = {
    val out = new Array[Byte](g.w * g.h * 3)
    var i = 0
    while (i < g.w * g.h) {
      out(i * 3) = g.data(i); out(i * 3 + 1) = g.data(i)
      out(i * 3 + 2) = g.data(i); i += 1
    }
    Rgb(g.w, g.h, out)
  }

  // ------------------------------------------------------------ tables

  /** Zigzag scan order: index = zigzag position, value = natural index. */
  val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.1 luminance quant table (natural order) with the DC step
    * forced to 8 — divides 8·(v−128) exactly, making constant blocks
    * round-trip bit-exactly (see object doc). AC steps untouched.
    */
  val DcExactQuant: Array[Int] = {
    val k1 = Array(
      16, 11, 10, 16, 24, 40, 51, 61,
      12, 12, 14, 19, 26, 58, 60, 55,
      14, 13, 16, 24, 40, 57, 69, 56,
      14, 17, 22, 29, 51, 87, 80, 62,
      18, 22, 37, 56, 68, 109, 103, 77,
      24, 35, 55, 64, 81, 104, 113, 92,
      49, 64, 78, 87, 103, 121, 120, 101,
      72, 92, 95, 98, 112, 100, 103, 99)
    k1(0) = 8
    k1
  }

  /** All-ones quant table: lossless-after-DCT-rounding, for tests that
    * want the entropy layer to carry dense AC coefficients.
    */
  val FlatQuant: Array[Int] = Array.fill(64)(1)

  // Annex K.3 standard Huffman tables: (bits per length 1..16, values).
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).map(_.toByte).toArray
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  // Flat AC table for PROGRESSIVE scans: the Annex K baseline AC table
  // has no EOBn symbols (0x10..0xE0 — end-of-band runs spanning blocks),
  // so progressive band scans need their own DHT. 255 symbols at length
  // 8 plus one at length 9 fills the canonical code space exactly
  // (255·2⁸ + 1·2⁷ = 2¹⁶) — a valid, trivially-verifiable table carrying
  // every rs value an AC scan can emit.
  private val AcProgBits = Array(0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0)
  private val AcProgVals = (0 to 255).map(_.toByte).toArray

  /** Canonical code assignment (T.81 Annex C): value → (code, length). */
  private def buildEncodeTable(bits: Array[Int], vals: Array[Byte]): Array[(Int, Int)] = {
    val table = new Array[(Int, Int)](256)
    var code = 0; var k = 0
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k) & 0xff) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    table
  }

  /** Canonical decode table: per length, first code + first value index. */
  private final class DecodeTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // exclusive
    val valIdx = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (len <- 1 to 16) {
        minCode(len) = code; valIdx(len) = k
        code += bits(len - 1); k += bits(len - 1)
        maxCode(len) = code
        code <<= 1
      }
    }
    def decode(in: BitReader): Int = {
      var code = 0; var len = 0
      while (len < 16) {
        code = (code << 1) | in.readBit()
        len += 1
        if (code < maxCode(len)) return vals(valIdx(len) + (code - minCode(len))) & 0xff
      }
      throw new IllegalArgumentException("invalid Huffman code")
    }
  }

  // ------------------------------------------------------------ DCT

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64) // t(u*8+x) = C(u) * cos((2x+1)uπ/16) / 2
    for (u <- 0 until 8; x <- 0 until 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      t(u * 8 + x) = cu * math.cos((2 * x + 1) * u * math.Pi / 16.0) / 2.0
    }
    t
  }

  /** Forward DCT of one level-shifted 8×8 block (natural order). */
  def fdct(block: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    val out = new Array[Double](64)
    for (y <- 0 until 8; u <- 0 until 8) { // rows
      var s = 0.0
      var x = 0
      while (x < 8) { s += block(y * 8 + x) * CosTable(u * 8 + x); x += 1 }
      tmp(y * 8 + u) = s
    }
    for (u <- 0 until 8; v <- 0 until 8) { // cols
      var s = 0.0
      var y = 0
      while (y < 8) { s += tmp(y * 8 + u) * CosTable(v * 8 + y); y += 1 }
      out(v * 8 + u) = s
    }
    out
  }

  /** Exact inverse DCT (transpose of [[fdct]]); output pre-level-shift. */
  def idct(coef: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    val out = new Array[Double](64)
    for (v <- 0 until 8; x <- 0 until 8) { // rows of coef in u
      var s = 0.0
      var u = 0
      while (u < 8) { s += coef(v * 8 + u) * CosTable(u * 8 + x); u += 1 }
      tmp(v * 8 + x) = s
    }
    for (x <- 0 until 8; y <- 0 until 8) {
      var s = 0.0
      var v = 0
      while (v < 8) { s += tmp(v * 8 + x) * CosTable(v * 8 + y); v += 1 }
      out(y * 8 + x) = s
    }
    out
  }

  // ------------------------------------------------------------ bit I/O

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** 1-pad to a byte boundary (T.81 F.1.2.3). */
    def flush(): Unit = if (nbits > 0) write(0xff, 8 - nbits)
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    def readBit(): Int = {
      if (nbits == 0) {
        val b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          val next = bytes(pos) & 0xff
          if (next == 0x00) pos += 1 // stuffed
          else throw new IllegalArgumentException(f"marker 0xff$next%02x inside entropy data")
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Drop partial bits and consume an expected RSTn marker. */
    def restart(n: Int): Unit = {
      nbits = 0
      if ((bytes(pos) & 0xff) != 0xff || (bytes(pos + 1) & 0xff) != (0xd0 + n))
        throw new IllegalArgumentException("expected restart marker")
      pos += 2
    }
  }

  /** EXTEND (T.81 F.2.2.1): map an n-bit magnitude code to its value. */
  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  // ------------------------------------------------------------ encoder

  /** Quantized coefficient blocks (natural order) for one plane. */
  def quantizeBlocks(plane: Gray, quant: Array[Int]): Array[Array[Int]] = {
    val bw = (plane.w + 7) / 8; val bh = (plane.h + 7) / 8
    val blocks = new Array[Array[Int]](bw * bh)
    for (by <- 0 until bh; bx <- 0 until bw) {
      val blk = new Array[Double](64)
      for (y <- 0 until 8; x <- 0 until 8) {
        // edge replication padding for non-multiple-of-8 dims
        val sx = math.min(bx * 8 + x, plane.w - 1)
        val sy = math.min(by * 8 + y, plane.h - 1)
        blk(y * 8 + x) = (plane.data(sy * plane.w + sx) & 0xff) - 128.0
      }
      val f = fdct(blk)
      blocks(by * bw + bx) = Array.tabulate(64)(i => math.round(f(i) / quant(i)).toInt)
    }
    blocks
  }

  private def writeSeg(out: java.io.ByteArrayOutputStream, marker: Int,
                       body: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    val len = body.length + 2
    out.write(len >> 8); out.write(len & 0xff); out.write(body, 0, body.length)
  }

  private def encodeBlock(bw: BitWriter, coef: Array[Int], dcPred: Int,
                          dcTab: Array[(Int, Int)], acTab: Array[(Int, Int)]): Int = {
    val dc = coef(0)
    val diff = dc - dcPred
    val t = category(diff)
    val (dcode, dlen) = dcTab(t)
    bw.write(dcode, dlen)
    if (t > 0) bw.write(if (diff < 0) diff + (1 << t) - 1 else diff, t)
    var run = 0
    for (zi <- 1 until 64) {
      val v = coef(Zigzag(zi))
      if (v == 0) run += 1
      else {
        while (run > 15) { val (c, l) = acTab(0xf0); bw.write(c, l); run -= 16 }
        val s = category(v)
        val (c, l) = acTab((run << 4) | s)
        bw.write(c, l)
        bw.write(if (v < 0) v + (1 << s) - 1 else v, s)
        run = 0
      }
    }
    if (run > 0) { val (c, l) = acTab(0x00); bw.write(c, l) } // EOB
    dc
  }

  /** Baseline grayscale encode: standard Huffman, caller quant table,
    * optional restart interval (in MCUs).
    */
  def encodeGray(img: Gray, quant: Array[Int] = DcExactQuant,
                 restartInterval: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    writeSeg(out, 0xe0, Array[Byte](0x4a, 0x46, 0x49, 0x46, 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    writeSeg(out, 0xdb, (0.toByte +: Zigzag.map(i => quant(i).toByte)))
    writeSeg(out, 0xc0, Array[Byte](8,
      (img.h >> 8).toByte, (img.h & 0xff).toByte,
      (img.w >> 8).toByte, (img.w & 0xff).toByte,
      1, 1, 0x11, 0))
    writeSeg(out, 0xc4, (0x00.toByte +: (DcLumaBits.map(_.toByte) ++ DcLumaVals)))
    writeSeg(out, 0xc4, (0x10.toByte +: (AcLumaBits.map(_.toByte) ++ AcLumaVals)))
    if (restartInterval > 0)
      writeSeg(out, 0xdd, Array[Byte]((restartInterval >> 8).toByte,
        (restartInterval & 0xff).toByte))
    writeSeg(out, 0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))
    val dcTab = buildEncodeTable(DcLumaBits, DcLumaVals)
    val acTab = buildEncodeTable(AcLumaBits, AcLumaVals)
    val blocks = quantizeBlocks(img, quant)
    val bw = new BitWriter(out)
    var dcPred = 0
    var rst = 0
    for ((blk, i) <- blocks.zipWithIndex) {
      if (restartInterval > 0 && i > 0 && i % restartInterval == 0) {
        bw.flush()
        out.write(0xff); out.write(0xd0 + rst); rst = (rst + 1) % 8
        dcPred = 0
      }
      dcPred = encodeBlock(bw, blk, dcPred, dcTab, acTab)
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Progressive (SOF2) grayscale encode. Default scan script: DC first
    * at Al=1, the full AC band, then the DC refinement bit — exercising
    * spectral selection, DC successive approximation, and EOB runs (a
    * band scan over sparse-AC content is mostly EOBn codes spanning many
    * blocks). The point transform is exact for DC ((v>>1)<<1 | (v&1)
    * reconstructs any integer), so block-constant rule images round-trip
    * bit-identically to the baseline path — which is what the
    * mm_jpeg_prog gate asserts. Scans may carry restart markers; AC
    * values use the trunc-toward-zero point transform of T.81 G.1.2.2.
    * (AC successive-approximation ENCODE is not implemented — the AC
    * refinement DECODE path is pinned against ImageIO-written
    * progressive streams in JpegSpec, whose libjpeg script uses it.)
    */
  def encodeGrayProgressive(img: Gray, quant: Array[Int] = DcExactQuant,
      scans: Seq[(Int, Int, Int, Int)] =
        Seq((0, 0, 0, 1), (1, 63, 0, 0), (0, 0, 1, 0)),
      restartInterval: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    writeSeg(out, 0xe0, Array[Byte](0x4a, 0x46, 0x49, 0x46, 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    writeSeg(out, 0xdb, (0.toByte +: Zigzag.map(i => quant(i).toByte)))
    writeSeg(out, 0xc2, Array[Byte](8, // SOF2
      (img.h >> 8).toByte, (img.h & 0xff).toByte,
      (img.w >> 8).toByte, (img.w & 0xff).toByte,
      1, 1, 0x11, 0))
    writeSeg(out, 0xc4, (0x00.toByte +: (DcLumaBits.map(_.toByte) ++ DcLumaVals)))
    writeSeg(out, 0xc4, (0x11.toByte +: (AcProgBits.map(_.toByte) ++ AcProgVals)))
    if (restartInterval > 0)
      writeSeg(out, 0xdd, Array[Byte]((restartInterval >> 8).toByte,
        (restartInterval & 0xff).toByte))
    val dcTab = buildEncodeTable(DcLumaBits, DcLumaVals)
    val acTab = buildEncodeTable(AcProgBits, AcProgVals)
    val blocks = quantizeBlocks(img, quant)
    scans.foreach { case (sS, sE, aH, aL) =>
      require(sS <= sE && sE <= 63, s"bad scan band $sS..$sE")
      if (sS == 0) require(sE == 0, "progressive DC scan must be Ss=Se=0")
      require(aH == 0 || sS == 0,
        "AC successive-approximation encode not implemented (decode-only path)")
      writeSeg(out, 0xda, Array[Byte](1, 1, 0x01, // Td=0, Ta=1 (flat AC table)
        sS.toByte, sE.toByte, ((aH << 4) | aL).toByte))
      val bw = new BitWriter(out)
      var dcPred = 0
      var eobrun = 0
      var rst = 0
      def flushEob(): Unit = if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        require(r <= 14, "EOB run too long") // capped by the flush below
        val (c, l) = acTab(r << 4)
        bw.write(c, l)
        if (r > 0) bw.write(eobrun - (1 << r), r)
        eobrun = 0
      }
      blocks.zipWithIndex.foreach { case (blk, i) =>
        if (restartInterval > 0 && i > 0 && i % restartInterval == 0) {
          flushEob(); bw.flush()
          out.write(0xff); out.write(0xd0 + rst); rst = (rst + 1) % 8
          dcPred = 0
        }
        if (sS == 0) {
          if (aH == 0) { // DC first: diff coding of the point-transformed DC
            val v = blk(0) >> aL // arithmetic shift per G.1.2.1
            val diff = v - dcPred
            dcPred = v
            val t = category(diff)
            val (dcode, dlen) = dcTab(t)
            bw.write(dcode, dlen)
            if (t > 0) bw.write(if (diff < 0) diff + (1 << t) - 1 else diff, t)
          } else { // DC refinement: one raw bit per block
            bw.write((blk(0) >> aL) & 1, 1)
          }
        } else { // AC first scan over the band with EOB-run accumulation
          val band = (sS to sE).map { zi =>
            val v = blk(Zigzag(zi))
            if (v < 0) -((-v) >> aL) else v >> aL // trunc toward zero
          }
          if (band.forall(_ == 0)) {
            eobrun += 1
            if (eobrun == 0x7fff) flushEob()
          } else {
            flushEob()
            var run = 0
            var lastNz = -1
            band.zipWithIndex.foreach { case (v, k) => if (v != 0) lastNz = k }
            band.zipWithIndex.take(lastNz + 1).foreach { case (v, _) =>
              if (v == 0) run += 1
              else {
                while (run > 15) { val (c, l) = acTab(0xf0); bw.write(c, l); run -= 16 }
                val s = category(v)
                val (c, l) = acTab((run << 4) | s)
                bw.write(c, l)
                bw.write(if (v < 0) v + (1 << s) - 1 else v, s)
                run = 0
              }
            }
            if (lastNz < band.length - 1) eobrun += 1 // trailing zeros = EOB
          }
        }
        if (i == blocks.length - 1) { flushEob(); bw.flush() }
      }
    }
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Baseline 4:4:4 YCbCr encode of an RGB image (JFIF color transform,
    * all three components sharing the luma Huffman/quant tables).
    */
  def encodeRgb444(img: Rgb, quant: Array[Int] = DcExactQuant): Array[Byte] = {
    val n = img.w * img.h
    val planes = Array.fill(3)(new Array[Byte](n))
    var i = 0
    while (i < n) {
      val r = img.data(i * 3) & 0xff; val g = img.data(i * 3 + 1) & 0xff
      val b = img.data(i * 3 + 2) & 0xff
      def cl(v: Double): Byte = math.max(0, math.min(255, math.round(v))).toByte
      planes(0)(i) = cl(0.299 * r + 0.587 * g + 0.114 * b)
      planes(1)(i) = cl(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
      planes(2)(i) = cl(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    writeSeg(out, 0xdb, (0.toByte +: Zigzag.map(i => quant(i).toByte)))
    writeSeg(out, 0xc0, Array[Byte](8,
      (img.h >> 8).toByte, (img.h & 0xff).toByte,
      (img.w >> 8).toByte, (img.w & 0xff).toByte,
      3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
    writeSeg(out, 0xc4, (0x00.toByte +: (DcLumaBits.map(_.toByte) ++ DcLumaVals)))
    writeSeg(out, 0xc4, (0x10.toByte +: (AcLumaBits.map(_.toByte) ++ AcLumaVals)))
    writeSeg(out, 0xda, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val dcTab = buildEncodeTable(DcLumaBits, DcLumaVals)
    val acTab = buildEncodeTable(AcLumaBits, AcLumaVals)
    val blocks = planes.map(p => quantizeBlocks(Gray(img.w, img.h, p), quant))
    val bw = new BitWriter(out)
    val dcPred = new Array[Int](3)
    val nBlocks = blocks(0).length
    for (b <- 0 until nBlocks; c <- 0 until 3) // 4:4:4 MCU = one block each
      dcPred(c) = encodeBlock(bw, blocks(c)(b), dcPred(c), dcTab, acTab)
    bw.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Baseline 4:4:4 four-component CMYK encode with the Adobe APP14
    * marker: the planes are the Adobe-convention INVERTED ink values
    * (stored = 255 − ink), written directly as components 1..4
    * (transform 0) or with the first three forward-converted to YCbCr
    * (transform 2, "YCCK" — pass planes already converted). All four
    * components share the luma Huffman/quant tables. This is the
    * 4-component JPEG family PDF-embedded print images actually use.
    */
  def encodeCmyk(w: Int, h: Int, planes: Array[Array[Byte]],
                 quant: Array[Int] = DcExactQuant,
                 transform: Int = 0): Array[Byte] = {
    require(planes.length == 4 && planes.forall(_.length == w * h),
      "need four w*h planes")
    require(transform == 0 || transform == 2, s"APP14 transform $transform")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    // APP14 "Adobe": version 100, flags 0/0, color transform
    writeSeg(out, 0xee, "Adobe".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 0, 0, 0, 0, transform.toByte))
    writeSeg(out, 0xdb, (0.toByte +: Zigzag.map(i => quant(i).toByte)))
    writeSeg(out, 0xc0, Array[Byte](8,
      (h >> 8).toByte, (h & 0xff).toByte,
      (w >> 8).toByte, (w & 0xff).toByte,
      4, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0))
    writeSeg(out, 0xc4, (0x00.toByte +: (DcLumaBits.map(_.toByte) ++ DcLumaVals)))
    writeSeg(out, 0xc4, (0x10.toByte +: (AcLumaBits.map(_.toByte) ++ AcLumaVals)))
    writeSeg(out, 0xda, Array[Byte](4, 1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00, 0, 63, 0))
    val dcTab = buildEncodeTable(DcLumaBits, DcLumaVals)
    val acTab = buildEncodeTable(AcLumaBits, AcLumaVals)
    val blocks = planes.map(p => quantizeBlocks(Gray(w, h, p), quant))
    val bw = new BitWriter(out)
    val dcPred = new Array[Int](4)
    val nBlocks = blocks(0).length
    for (b <- 0 until nBlocks; c <- 0 until 4) // 4:4:4 MCU = one block each
      dcPred(c) = encodeBlock(bw, blocks(c)(b), dcPred(c), dcTab, acTab)
    bw.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  // ------------------------------------------------------------ decoder

  final case class Component(id: Int, h: Int, v: Int, tq: Int,
                              var td: Int = 0, var ta: Int = 0)

  /** Decoded scan at the coefficient level: per component, DEQUANTIZED
    * blocks in natural order, at component resolution (for tests and for
    * the pixel stage). `grids` carries each component's block-grid
    * (width, height) — MCU-padded for interleaved scans, exact
    * ceil(dim/8) for a non-interleaved single-component scan.
    */
  final case class Coefficients(w: Int, h: Int,
      comps: Seq[(Component, Array[Array[Int]])], grids: Seq[(Int, Int)],
      adobeTransform: Int = -1)

  /** Multi-scan entropy decode to dequantized coefficients — baseline
    * (SOF0) AND progressive (SOF2, T.81 Annex G): spectral selection,
    * successive approximation (DC and AC first + refinement scans), EOB
    * runs, restart markers inside any scan, multiple SOS segments
    * accumulating into per-component coefficient grids. Grids are
    * frame-MCU-padded; non-interleaved scans (every progressive AC scan,
    * and sequential single-component scans) cover the component's exact
    * ceil(dim/8) sub-grid per T.81 A.2. Quantized coefficients
    * accumulate across scans; dequantization happens once at EOI.
    */
  def decodeCoefficients(bytes: Array[Byte]): Coefficients = {
    require((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    var pos = 2
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[DecodeTable](4)
    val acTabs = new Array[DecodeTable](4)
    var comps: Array[Component] = null
    var w = 0; var h = 0
    var restartInterval = 0
    var progressive = false
    var adobeTransform = -1
    var hmax = 0; var vmax = 0; var mcusX = 0; var mcusY = 0
    var grids: Array[Array[Array[Int]]] = null // quantized; null block = zero
    var gw: Array[Int] = null; var gh: Array[Int] = null
    var ew: Array[Int] = null; var eh: Array[Int] = null // exact block dims
    var scansSeen = 0
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)

    def decodeScan(body: Int): Int = {
      val ns = bytes(body) & 0xff
      require(ns >= 1 && ns <= 4, s"implausible scan component count $ns")
      val sIdx = Array.tabulate(ns) { i =>
        val id = bytes(body + 1 + 2 * i) & 0xff
        val ci = comps.indexWhere(_.id == id)
        require(ci >= 0, s"scan component $id not in frame")
        comps(ci).td = (bytes(body + 2 + 2 * i) & 0xff) >> 4
        comps(ci).ta = bytes(body + 2 + 2 * i) & 0x0f
        ci
      }
      val (sS, sE, aH, aL) =
        if (!progressive) (0, 63, 0, 0)
        else {
          val ss = bytes(body + 1 + 2 * ns) & 0xff
          val se = bytes(body + 2 + 2 * ns) & 0xff
          val a = bytes(body + 3 + 2 * ns) & 0xff
          (ss, se, a >> 4, a & 0x0f)
        }
      require(sS <= sE && sE <= 63, s"bad spectral band $sS..$sE")
      if (progressive) {
        if (sS == 0) require(sE == 0, "progressive DC scan must be Ss=Se=0")
        else require(ns == 1, "progressive AC scans are non-interleaved")
      }
      val in = new BitReader(bytes, body + 4 + 2 * ns)
      val dcPred = new Array[Int](ns)
      var eobrun = 0
      var rst = 0
      def blockOf(ci: Int, idx: Int): Array[Int] = {
        var b = grids(ci)(idx)
        if (b == null) { b = new Array[Int](64); grids(ci)(idx) = b }
        b
      }
      def maybeRestart(unitIdx: Int): Unit =
        if (restartInterval > 0 && unitIdx > 0 && unitIdx % restartInterval == 0) {
          in.restart(rst); rst = (rst + 1) % 8
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }

      def sequentialBlock(si: Int, ci: Int, coef: Array[Int]): Unit = {
        val c = comps(ci)
        val t = dcTabs(c.td).decode(in)
        dcPred(si) += extend(in.receive(t), t)
        coef(0) = dcPred(si)
        var zi = 1
        while (zi < 64) {
          val rs = acTabs(c.ta).decode(in)
          val run = rs >> 4; val size = rs & 0x0f
          if (size == 0) {
            if (run == 15) zi += 16 // ZRL
            else zi = 64 // EOB
          } else {
            zi += run
            require(zi < 64, s"AC run overflows the block (zi=$zi)")
            coef(Zigzag(zi)) = extend(in.receive(size), size)
            zi += 1
          }
        }
      }
      def dcFirst(si: Int, ci: Int, coef: Array[Int]): Unit = {
        val t = dcTabs(comps(ci).td).decode(in)
        dcPred(si) += extend(in.receive(t), t)
        coef(0) = dcPred(si) << aL
      }
      def dcRefine(coef: Array[Int]): Unit =
        if (in.readBit() == 1) coef(0) |= (1 << aL)
      def acFirst(ci: Int, coef: Array[Int]): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var zi = sS
        while (zi <= sE) {
          val rs = acTabs(comps(ci).ta).decode(in)
          val r = rs >> 4; val s = rs & 0x0f
          if (s == 0) {
            if (r == 15) zi += 16 // ZRL
            else { // EOBn: run of (1<<r)+ext end-of-band blocks
              eobrun = (1 << r) - 1 + (if (r > 0) in.receive(r) else 0)
              return
            }
          } else {
            zi += r
            require(zi <= sE, s"AC run overflows the band (zi=$zi)")
            coef(Zigzag(zi)) = extend(in.receive(s), s) << aL
            zi += 1
          }
        }
      }
      /** T.81 G.1.2.3: AC successive-approximation refinement — correction
        * bits for every already-nonzero coefficient traversed, newly
        * significant ±1·2^Al insertions after `r` zero-history positions,
        * EOB runs finishing the band with corrections only.
        */
      def acRefine(ci: Int, coef: Array[Int]): Unit = {
        val p1 = 1 << aL; val m1 = -1 << aL
        def correct(idx: Int): Unit =
          if (in.readBit() == 1 && (coef(idx) & p1) == 0)
            coef(idx) += (if (coef(idx) >= 0) p1 else m1)
        var zi = sS
        if (eobrun == 0) {
          var toEob = false
          while (zi <= sE && !toEob) {
            val rs = acTabs(comps(ci).ta).decode(in)
            var r = rs >> 4; val s = rs & 0x0f
            var newVal = 0
            if (s == 0) {
              if (r < 15) {
                // NOT (1<<r)-1: the end-of-band phase below decrements
                // for the CURRENT block (it still owes correction bits)
                eobrun = (1 << r) + (if (r > 0) in.receive(r) else 0)
                toEob = true
              } // r == 15: ZRL — pass 16 zero-history coefficients
            } else {
              require(s == 1, "AC refinement magnitude must be 1")
              newVal = if (in.readBit() == 1) p1 else m1
            }
            if (!toEob) {
              var placed = false
              while (zi <= sE && !placed) {
                val idx = Zigzag(zi)
                if (coef(idx) != 0) correct(idx)
                else if (r == 0) { if (newVal != 0) coef(idx) = newVal; placed = true }
                else r -= 1
                zi += 1
              }
            }
          }
        }
        if (eobrun > 0) { // finish the band: corrections only
          while (zi <= sE) {
            val idx = Zigzag(zi)
            if (coef(idx) != 0) correct(idx)
            zi += 1
          }
          eobrun -= 1
        }
      }

      def decodeUnitInto(si: Int, ci: Int, coef: Array[Int]): Unit =
        if (!progressive) sequentialBlock(si, ci, coef)
        else if (sS == 0) { if (aH == 0) dcFirst(si, ci, coef) else dcRefine(coef) }
        else { if (aH == 0) acFirst(ci, coef) else acRefine(ci, coef) }

      if (ns == 1) {
        // non-interleaved: exact component grid, padded row stride
        val ci = sIdx(0)
        var unit = 0
        var by = 0
        while (by < eh(ci)) {
          var bx = 0
          while (bx < ew(ci)) {
            maybeRestart(unit); unit += 1
            decodeUnitInto(0, ci, blockOf(ci, by * gw(ci) + bx))
            bx += 1
          }
          by += 1
        }
      } else {
        var unit = 0
        for (my <- 0 until mcusY; mx <- 0 until mcusX) {
          maybeRestart(unit); unit += 1
          for (si <- 0 until ns) {
            val ci = sIdx(si); val c = comps(ci)
            for (by <- 0 until c.v; bx <- 0 until c.h)
              decodeUnitInto(si, ci,
                blockOf(ci, (my * c.v + by) * gw(ci) + (mx * c.h + bx)))
          }
        }
      }
      // skip padding/fill bytes and any straggler RST up to the next marker
      var p = in.pos
      var found = false
      while (!found) {
        require(p + 1 < bytes.length, "scan ran past end of stream")
        if ((bytes(p) & 0xff) != 0xff) p += 1
        else (bytes(p + 1) & 0xff) match {
          case 0x00 | 0xff => p += 1 // stuffed zero / fill byte
          case m if m >= 0xd0 && m <= 0xd7 => p += 2 // stray restart
          case _ => found = true
        }
      }
      p
    }

    var done = false
    while (!done) {
      require(pos + 1 < bytes.length, "truncated JPEG stream")
      require((bytes(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val marker = bytes(pos + 1) & 0xff
      if (marker == 0xd9) done = true // EOI
      else {
        val len = u16(pos + 2)
        val body = pos + 4
        require(pos + 2 + len <= bytes.length, f"truncated segment 0xff$marker%02x")
        marker match {
          case 0xdb => // DQT: one or more tables
            var o = body
            while (o < pos + 2 + len) {
              val pq = (bytes(o) & 0xff) >> 4; val tq = bytes(o) & 0x0f
              val t = new Array[Int](64)
              for (zi <- 0 until 64)
                t(Zigzag(zi)) =
                  if (pq == 0) bytes(o + 1 + zi) & 0xff
                  else u16(o + 1 + 2 * zi)
              quant(tq) = t
              o += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xc4 => // DHT: one or more tables
            var o = body
            while (o < pos + 2 + len) {
              val tc = (bytes(o) & 0xff) >> 4; val th = bytes(o) & 0x0f
              val bits = Array.tabulate(16)(i => bytes(o + 1 + i) & 0xff)
              val nv = bits.sum
              val vals = java.util.Arrays.copyOfRange(bytes, o + 17, o + 17 + nv)
              val tab = new DecodeTable(bits, vals)
              if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
              o += 17 + nv
            }
          case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
            progressive = marker == 0xc2
            require((bytes(body) & 0xff) == 8, "only 8-bit precision")
            h = u16(body + 1); w = u16(body + 3)
            // allocation sanity: a fuzzed/corrupt SOF must not request a
            // multi-GB plane — fail structured before any buffer exists
            require(w > 0 && h > 0 && w.toLong * h <= 64L * 1024 * 1024,
              s"implausible frame ${w}x$h")
            val nf = bytes(body + 5) & 0xff
            require(nf >= 1 && nf <= 4, s"implausible component count $nf")
            comps = Array.tabulate(nf) { i =>
              val o = body + 6 + 3 * i
              Component(bytes(o) & 0xff, (bytes(o + 1) & 0xff) >> 4,
                bytes(o + 1) & 0x0f, bytes(o + 2) & 0xff)
            }
            comps.foreach(c => require(c.h >= 1 && c.h <= 4 && c.v >= 1 && c.v <= 4,
              s"implausible sampling ${c.h}x${c.v}"))
            hmax = comps.map(_.h).max; vmax = comps.map(_.v).max
            mcusX = (w + 8 * hmax - 1) / (8 * hmax)
            mcusY = (h + 8 * vmax - 1) / (8 * vmax)
            gw = comps.map(c => mcusX * c.h)
            gh = comps.map(c => mcusY * c.v)
            ew = comps.map(c => ((w * c.h + hmax - 1) / hmax + 7) / 8)
            eh = comps.map(c => ((h * c.v + vmax - 1) / vmax + 7) / 8)
            grids = comps.indices.map(i =>
              new Array[Array[Int]](gw(i) * gh(i))).toArray
          case m if m >= 0xc1 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc =>
            throw new IllegalArgumentException(
              f"unsupported SOF marker 0xff$m%02x (baseline/progressive Huffman only)")
          case 0xdd => restartInterval = u16(body)
          case 0xee => // APP14 "Adobe": color-transform flag at body+11
            if (len >= 14 && bytes(body) == 'A' && bytes(body + 1) == 'd' &&
                bytes(body + 2) == 'o' && bytes(body + 3) == 'b' &&
                bytes(body + 4) == 'e')
              adobeTransform = bytes(body + 11) & 0xff
          case _ => () // APPn / COM / DNL / others: skip
        }
        if (marker == 0xda) { // SOS: decodeScan returns the next marker
          require(comps != null, "SOS before SOF")
          pos = decodeScan(body)
          scansSeen += 1
        } else pos += 2 + len
      }
    }
    require(scansSeen > 0, "no scan before EOI")
    val out = comps.indices.map { ci =>
      val c = comps(ci)
      val q = quant(c.tq)
      require(q != null, s"missing quant table ${c.tq}")
      val deq = grids(ci).map { blk =>
        if (blk == null) new Array[Int](64)
        else Array.tabulate(64)(i => blk(i) * q(i))
      }
      (c, deq)
    }
    Coefficients(w, h, out, comps.indices.map(i => (gw(i), gh(i))), adobeTransform)
  }

  /** Reconstruct one component plane at its own resolution. */
  private def reconstructPlane(coef: Array[Array[Int]], bw: Int, bh: Int,
                               pw: Int, ph: Int): Array[Byte] = {
    val plane = new Array[Byte](pw * ph)
    for (by <- 0 until bh; bx <- 0 until bw) {
      val out = idct(coef(by * bw + bx).map(_.toDouble))
      for (y <- 0 until 8; x <- 0 until 8) {
        val px = bx * 8 + x; val py = by * 8 + y
        if (px < pw && py < ph) {
          val v = math.round(out(y * 8 + x) + 128.0)
          plane(py * pw + px) = math.max(0L, math.min(255L, v)).toByte
        }
      }
    }
    plane
  }

  // -------------------------------------------------- chroma upsampling

  /** libjpeg h2v1 "fancy" (triangle-filter) upsample of one row:
    * out even = (3·this + left + 1) >> 2, out odd = (3·this + right + 2)
    * >> 2, edges copied — jdsample.c h2v1_fancy_upsample, the default
    * every mainstream decoder ships. `row` is sw samples at (rowOff,
    * stride); writes 2·sw samples into `dst`.
    */
  private def h2v1FancyRow(src: Array[Byte], rowOff: Int, sw: Int,
                           dst: Array[Byte], dstOff: Int): Unit = {
    def s(i: Int): Int = src(rowOff + i) & 0xff
    if (sw == 1) { dst(dstOff) = s(0).toByte; dst(dstOff + 1) = s(0).toByte; return }
    dst(dstOff) = s(0).toByte
    dst(dstOff + 1) = ((s(0) * 3 + s(1) + 2) >> 2).toByte
    var i = 1
    while (i < sw - 1) {
      val v = s(i) * 3
      dst(dstOff + 2 * i) = ((v + s(i - 1) + 1) >> 2).toByte
      dst(dstOff + 2 * i + 1) = ((v + s(i + 1) + 2) >> 2).toByte
      i += 1
    }
    dst(dstOff + 2 * (sw - 1)) = ((s(sw - 1) * 3 + s(sw - 2) + 1) >> 2).toByte
    dst(dstOff + 2 * sw - 1) = s(sw - 1).toByte
  }

  /** libjpeg h2v2 fancy upsample: per output row, a 3:1 vertical blend of
    * the input row with its nearer neighbor (column sums), then the
    * horizontal triangle — combined 9/3/3/1 weights with the exact
    * (+8)>>4 / (+7)>>4 rounding of jdsample.c h2v2_fancy_upsample.
    */
  private def h2v2Fancy(src: Array[Byte], sw: Int, sh: Int): (Array[Byte], Int) = {
    val dw = 2 * sw; val dh = 2 * sh
    val dst = new Array[Byte](dw * dh)
    var oy = 0
    while (oy < dh) {
      val iy = oy >> 1
      val ny = if ((oy & 1) == 0) math.max(0, iy - 1) else math.min(sh - 1, iy + 1)
      def colsum(i: Int): Int =
        (src(iy * sw + i) & 0xff) * 3 + (src(ny * sw + i) & 0xff)
      val o = oy * dw
      if (sw == 1) {
        dst(o) = ((colsum(0) * 4 + 8) >> 4).toByte
        dst(o + 1) = ((colsum(0) * 4 + 7) >> 4).toByte
      } else {
        dst(o) = ((colsum(0) * 4 + 8) >> 4).toByte
        dst(o + 1) = ((colsum(0) * 3 + colsum(1) + 7) >> 4).toByte
        var i = 1
        while (i < sw - 1) {
          val c = colsum(i) * 3
          dst(o + 2 * i) = ((c + colsum(i - 1) + 8) >> 4).toByte
          dst(o + 2 * i + 1) = ((c + colsum(i + 1) + 7) >> 4).toByte
          i += 1
        }
        dst(o + 2 * (sw - 1)) = ((colsum(sw - 1) * 3 + colsum(sw - 2) + 8) >> 4).toByte
        dst(o + 2 * sw - 1) = ((colsum(sw - 1) * 4 + 7) >> 4).toByte
      }
      oy += 1
    }
    (dst, dw)
  }

  /** Upsample a component plane (pw×ph) to the full frame grid: 2×2 and
    * 2×1 factors get the libjpeg triangle filter (the decoder-fidelity
    * default everywhere — closes the documented replication gap on
    * chroma edges); any other factor falls back to replication
    * (libjpeg's int_upsample does the same for irregular factors).
    */
  private def upsamplePlane(plane: Array[Byte], pw: Int, ph: Int,
                            fx: Int, fy: Int, w: Int, h: Int): (Array[Byte], Int) =
    (fx, fy) match {
      case (1, 1) => (plane, pw)
      case (2, 2) => h2v2Fancy(plane, pw, ph)
      case (2, 1) =>
        val dst = new Array[Byte](2 * pw * ph)
        var y = 0
        while (y < ph) { h2v1FancyRow(plane, y * pw, pw, dst, y * 2 * pw); y += 1 }
        (dst, 2 * pw)
      case _ =>
        val dst = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            dst(y * w + x) = plane(math.min(ph - 1, y / fy) * pw +
              math.min(pw - 1, x / fx))
            x += 1
          }
          y += 1
        }
        (dst, w)
    }

  /** Full decode to RGB — baseline or progressive (grayscale replicated;
    * YCbCr via the JFIF inverse transform; 4-component CMYK/YCCK folded
    * to RGB, inks inverted only under an Adobe APP14 marker; subsampled
    * chroma upsampled with libjpeg's fancy triangle filter for 2× factors).
    */
  def decodeJpeg(bytes: Array[Byte]): Rgb = {
    val co = decodeCoefficients(bytes)
    val w = co.w; val h = co.h; val comps = co.comps; val gridDims = co.grids
    val hmax = comps.map(_._1.h).max; val vmax = comps.map(_._1.v).max
    val planes = comps.zip(gridDims).map { case ((c, grid), (gw, gh)) =>
      val pw = (w * c.h + hmax - 1) / hmax; val ph = (h * c.v + vmax - 1) / vmax
      val rec = reconstructPlane(grid, gw, gh, pw, ph)
      val (up, uw) = upsamplePlane(rec, pw, ph, hmax / c.h, vmax / c.v, w, h)
      (up, uw)
    }
    val out = new Array[Byte](w * h * 3)
    def cl(v: Double): Byte = math.max(0L, math.min(255L, math.round(v))).toByte
    if (planes.length == 1) {
      val (p, pw) = planes.head
      for (y <- 0 until h; x <- 0 until w) {
        val v = p(y * pw + x)
        val i = (y * w + x) * 3
        out(i) = v; out(i + 1) = v; out(i + 2) = v
      }
    } else if (planes.length == 4) {
      // With an Adobe APP14 marker, stored samples are the INVERTED inks
      // (stored = 255 − ink, the Photoshop/libjpeg convention);
      // transform 2 ("YCCK") additionally runs YCbCr over the first
      // three. Without one, they are plain CMYK inks, inverted here so
      // both fold alike. Fold to RGB with the exact integer rule
      // R = round(storedC·storedK / 255) = (2·storedC·storedK + 255)/510
      // — closed-form-replayable for the oracle's rule images.
      val Seq((p0, w0), (p1, w1), (p2, w2), (pk, wk)) = planes
      val ycck = co.adobeTransform == 2
      val ink = if (co.adobeTransform >= 0) 0 else 0xff
      for (y <- 0 until h; x <- 0 until w) {
        var c0 = (p0(y * w0 + x) & 0xff) ^ ink
        var c1 = (p1(y * w1 + x) & 0xff) ^ ink
        var c2 = (p2(y * w2 + x) & 0xff) ^ ink
        val k = (pk(y * wk + x) & 0xff) ^ ink
        if (ycck) {
          val lum = c0; val cbv = c1 - 128; val crv = c2 - 128
          c0 = cl(lum + 1.402 * crv) & 0xff
          c1 = cl(lum - 0.344136 * cbv - 0.714136 * crv) & 0xff
          c2 = cl(lum + 1.772 * cbv) & 0xff
        }
        val i = (y * w + x) * 3
        out(i) = ((2 * c0 * k + 255) / 510).toByte
        out(i + 1) = ((2 * c1 * k + 255) / 510).toByte
        out(i + 2) = ((2 * c2 * k + 255) / 510).toByte
      }
    } else {
      require(planes.length == 3, s"unsupported component count ${planes.length}")
      val Seq((yp, ywd), (bp, bwd), (rp, rwd)) = planes
      for (y <- 0 until h; x <- 0 until w) {
        val lum = yp(y * ywd + x) & 0xff
        val cbv = (bp(y * bwd + x) & 0xff) - 128
        val crv = (rp(y * rwd + x) & 0xff) - 128
        val i = (y * w + x) * 3
        out(i) = cl(lum + 1.402 * crv)
        out(i + 1) = cl(lum - 0.344136 * cbv - 0.714136 * crv)
        out(i + 2) = cl(lum + 1.772 * cbv)
      }
    }
    Rgb(w, h, out)
  }
}
