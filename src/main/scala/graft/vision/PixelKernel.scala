package graft.vision

/** Real pixel-level vision kernel — the last front-door stage of the
  * reference the engine previously only stubbed (header parse). Pure JVM,
  * no codec jar: PNG is fully decodable with `java.util.zip.Inflater`
  * plus the five per-row unfilters from the spec.
  *
  * Faithful re-expressions of the reference's vision.prepare_inputs
  * stages:
  *  - PNG decode (the `image::open` analog for the PNG container,
  *    /root/reference/crates/cli/src/app.rs:95-101)
  *  - Pillow-exact separable fixed-point BICUBIC resample, a = −0.5,
  *    22-bit precision, per-pass u8 clipping
  *    (/root/reference/crates/core/src/vision/resample.rs:26-160).
  *    NOTE ON PROVENANCE: this resample stage is the PILLOW ALGORITHM
  *    (python-pillow `ImagingResampleHorizontal/Vertical`, public
  *    BSD-licensed code) — the contract is byte-for-byte Pillow parity,
  *    which pins every arithmetic step and the classic variable names
  *    (filterscale/support/ksize/xmin/xmax); the reference ports the
  *    same public algorithm, which is why the structures match.
  *  - letterboxed global view on a mid-gray canvas with
  *    round-ties-to-even placement
  *    (/root/reference/crates/core/src/model/mod.rs:1705-1741
  *    `build_global_view`)
  *  - dynamic tiling crops (/root/reference/crates/core/src/vision/
  *    preprocess.rs:51-76)
  *  - (v/255 − 0.5)/0.5 CHW normalization
  *    (/root/reference/crates/core/src/model/mod.rs:1743-1761
  *    `image_to_tensor`) — kept as exact integer numerators (2v − 255,
  *    implied /255) so checksums replay bit-for-bit in any engine.
  *
  * Everything is deterministic integer/IEEE-double arithmetic in a fixed
  * order — the DuckDB oracle replays decode + convolution + letterbox +
  * checksums exactly (the coefficient tables are shared spec constants
  * embedded into the oracle SQL at build time; see PixelOps).
  */
object PixelKernel {

  /** An RGB8 image: interleaved rgb rows, 3·w·h bytes. */
  final case class Rgb(w: Int, h: Int, data: Array[Byte]) {
    require(data.length == 3 * w * h, s"bad rgb buffer for ${w}x$h")
  }

  // ---------------------------------------------------------------- PNG

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue.toInt
  }
  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def readBe32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val t = tag.getBytes("US-ASCII")
    be32(data.length) ++ t ++ data ++ be32(crc32(t, data))
  }

  /** Spec-conformant PNG encode (8-bit truecolor, zlib IDAT). Each row's
    * filter type is chosen by `filterOf(y)` — emitting all five spec
    * filters makes the decoder's unfilter paths load-bearing in round
    * trips.
    */
  def encodePng(img: Rgb, filterOf: Int => Int = _ % 5): Array[Byte] =
    encodePngEx(img.w, img.h, colorType = 2, depth = 8,
      samples = img.data.map(_ & 0xff), palette = Array.empty,
      interlaced = false, filterOf = filterOf)

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Channel count per PNG color type (0 gray, 2 rgb, 3 palette index,
    * 4 gray+alpha, 6 rgba).
    */
  private def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    case other => throw new IllegalArgumentException(s"bad color type $other")
  }

  private def validPngProfile(colorType: Int, depth: Int): Boolean =
    colorType match {
      case 0 => Set(1, 2, 4, 8, 16)(depth)
      case 3 => Set(1, 2, 4, 8)(depth)
      case 2 | 4 | 6 => depth == 8 || depth == 16
      case _ => false
    }

  /** Adam7 pass table: (x0, y0, dx, dy) per the spec's pixel schedule. */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def passesOf(interlaced: Boolean): Array[(Int, Int, Int, Int)] =
    if (interlaced) Adam7 else Array((0, 0, 1, 1))

  /** General PNG encode across the spec's profile space: color types
    * 0/2/3/4/6, bit depths 1-16 (where the spec allows them), optional
    * Adam7 interlace. `samples` is sample-major (pixel·channels + c) raw
    * values — palette indices for type 3, 16-bit samples as 0..65535.
    * Filters still cycle via `filterOf` (indexed by a global emitted-row
    * counter so interlaced passes keep exercising all five unfilters).
    */
  def encodePngEx(w: Int, h: Int, colorType: Int, depth: Int,
                  samples: Array[Int], palette: Array[Byte],
                  interlaced: Boolean,
                  filterOf: Int => Int = _ % 5): Array[Byte] = {
    require(validPngProfile(colorType, depth),
      s"invalid PNG profile: color type $colorType at depth $depth")
    val channels = pngChannels(colorType)
    require(samples.length == w * h * channels, "bad sample buffer")
    if (colorType == 3)
      require(palette.nonEmpty && palette.length % 3 == 0 &&
        palette.length <= 768, "palette required for color type 3")
    val raw = new java.io.ByteArrayOutputStream()
    var rowCounter = 0
    passesOf(interlaced).foreach { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val rowBytes = ((pw.toLong * channels * depth + 7) / 8).toInt
        val bpp = math.max(1, channels * depth / 8)
        var prev = new Array[Byte](rowBytes)
        var py = 0
        while (py < ph) {
          // pack this pass row's samples into bytes (big-endian in-byte)
          val cur = new Array[Byte](rowBytes)
          var px = 0
          while (px < pw) {
            val sx = x0 + px * dx; val sy = y0 + py * dy
            var c = 0
            while (c < channels) {
              val v = samples((sy * w + sx) * channels + c)
              val si = px * channels + c
              if (depth == 16) {
                cur(si * 2) = (v >>> 8).toByte; cur(si * 2 + 1) = v.toByte
              } else if (depth == 8) cur(si) = v.toByte
              else {
                val bit = si * depth
                cur(bit / 8) = (cur(bit / 8) |
                  ((v & ((1 << depth) - 1)) << (8 - depth - bit % 8))).toByte
              }
              c += 1
            }
            px += 1
          }
          val f = filterOf(rowCounter) % 5
          rowCounter += 1
          val enc = new Array[Byte](rowBytes)
          var x = 0
          while (x < rowBytes) {
            val cv = cur(x) & 0xff
            val left = if (x >= bpp) cur(x - bpp) & 0xff else 0
            val up = if (py > 0) prev(x) & 0xff else 0
            val ul = if (x >= bpp && py > 0) prev(x - bpp) & 0xff else 0
            enc(x) = (f match {
              case 0 => cv
              case 1 => cv - left
              case 2 => cv - up
              case 3 => cv - (left + up) / 2
              case 4 => cv - paeth(left, up, ul)
            }).toByte
            x += 1
          }
          raw.write(f)
          raw.write(enc)
          prev = cur
          py += 1
        }
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val ihdr = be32(w) ++ be32(h) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0,
        if (interlaced) 1 else 0)
    PngSig ++ chunk("IHDR", ihdr) ++
      (if (colorType == 3) chunk("PLTE", palette) else Array.empty[Byte]) ++
      chunk("IDAT", out.toByteArray) ++ chunk("IEND", Array.empty)
  }

  /** Full PNG pixel decode across the profile space the reference's
    * `png` feature handles (ref Cargo.toml:12, cli/app.rs:95-101
    * `image::open`): color types 0/2/3/4/6, bit depths 1-16, optional
    * Adam7 interlace. Chunk walk with CRC verification, zlib inflate of
    * the concatenated IDAT stream, per-row byte unfilter (all five spec
    * filters, per pass), then sample unpack to RGB8: sub-byte gray
    * scales by 255/(2^d−1) exactly, 16-bit keeps the high byte (the
    * png_set_strip_16 convention), palette indices expand through PLTE,
    * alpha channels are dropped (the to_rgb8 convention — PNG alpha is
    * non-premultiplied, so the stored RGB is unchanged). Anything
    * malformed throws (callers degrade corrupt rows).
    */
  def decodePng(bytes: Array[Byte]): Rgb = {
    require(bytes.length > 8 && bytes.take(8).sameElements(PngSig), "not a PNG")
    var i = 8
    var w = 0; var h = 0; var depth = 0; var colorType = -1; var interlace = 0
    var plte: Array[Byte] = Array.empty
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && i + 8 <= bytes.length) {
      val len = readBe32(bytes, i)
      val tag = new String(bytes, i + 4, 4, "US-ASCII")
      require(len >= 0 && i + 8 + len + 4 <= bytes.length, s"truncated chunk $tag")
      val data = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
      val crc = readBe32(bytes, i + 8 + len)
      require(crc == crc32(tag.getBytes("US-ASCII"), data), s"bad CRC in $tag")
      tag match {
        case "IHDR" =>
          w = readBe32(data, 0); h = readBe32(data, 4)
          depth = data(8) & 0xff; colorType = data(9) & 0xff
          interlace = data(12) & 0xff
          require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
            s"implausible raster ${w}x$h") // reject before any allocation
          require(validPngProfile(colorType, depth),
            s"unsupported PNG profile (color type $colorType, depth $depth)")
          require(interlace == 0 || interlace == 1, s"bad interlace $interlace")
        case "PLTE" =>
          require(data.length % 3 == 0 && data.length <= 768, "bad PLTE")
          plte = data
        case "IDAT" => idat.write(data)
        case "IEND" => done = true
        case _ => // ancillary chunks skipped (incl. tRNS: alpha is dropped)
      }
      i += 12 + len
    }
    require(w > 0 && h > 0 && idat.size() > 0, "missing IHDR/IDAT")
    require(colorType != 3 || plte.nonEmpty, "palette PNG missing PLTE")
    val channels = pngChannels(colorType)
    val passes = passesOf(interlace == 1)
    // exact filtered-stream length across (possibly empty) passes
    val rawLen = passes.map { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0)
        ph.toLong * (1L + (pw.toLong * channels * depth + 7) / 8)
      else 0L
    }.sum
    require(rawLen <= Int.MaxValue, "raster too large")
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    while (!inf.finished() && off < raw.length) {
      val n = inf.inflate(raw, off, raw.length - off)
      require(n > 0 || inf.finished(), "truncated IDAT stream")
      off += n
    }
    inf.end()
    require(off == raw.length, s"inflated $off of ${raw.length} filtered bytes")
    val out = new Array[Byte](w * h * 3)
    val scale = depth match { // exact 255/(2^d−1) for sub-byte gray
      case 1 => 255; case 2 => 85; case 4 => 17; case _ => 1
    }
    var pos = 0
    passes.foreach { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val rowBytes = ((pw.toLong * channels * depth + 7) / 8).toInt
        val bpp = math.max(1, channels * depth / 8)
        var prev = new Array[Byte](rowBytes)
        var py = 0
        while (py < ph) {
          val f = raw(pos) & 0xff
          pos += 1
          val cur = new Array[Byte](rowBytes)
          var x = 0
          while (x < rowBytes) {
            val enc = raw(pos + x) & 0xff
            val left = if (x >= bpp) cur(x - bpp) & 0xff else 0
            val up = if (py > 0) prev(x) & 0xff else 0
            val ul = if (x >= bpp && py > 0) prev(x - bpp) & 0xff else 0
            cur(x) = (f match {
              case 0 => enc
              case 1 => enc + left
              case 2 => enc + up
              case 3 => enc + (left + up) / 2
              case 4 => enc + paeth(left, up, ul)
              case other => throw new IllegalArgumentException(s"bad filter $other")
            }).toByte
            x += 1
          }
          pos += rowBytes
          // sample extraction for this pass row
          def sampleAt(px: Int, c: Int): Int = {
            val si = px * channels + c
            depth match {
              case 16 => ((cur(si * 2) & 0xff) << 8) | (cur(si * 2 + 1) & 0xff)
              case 8 => cur(si) & 0xff
              case d =>
                val bit = si * d
                (cur(bit / 8) >> (8 - d - bit % 8)) & ((1 << d) - 1)
            }
          }
          var px = 0
          while (px < pw) {
            val oi = ((y0 + py * dy) * w + (x0 + px * dx)) * 3
            colorType match {
              case 0 | 4 => // gray (+ dropped alpha)
                val g0 = sampleAt(px, 0)
                val g = (if (depth == 16) g0 >>> 8 else g0 * scale).toByte
                out(oi) = g; out(oi + 1) = g; out(oi + 2) = g
              case 2 | 6 => // rgb (+ dropped alpha)
                var c = 0
                while (c < 3) {
                  val v = sampleAt(px, c)
                  out(oi + c) = (if (depth == 16) v >>> 8 else v).toByte
                  c += 1
                }
              case 3 =>
                val idx = sampleAt(px, 0)
                require(idx * 3 + 2 < plte.length, s"palette index $idx out of range")
                out(oi) = plte(idx * 3); out(oi + 1) = plte(idx * 3 + 1)
                out(oi + 2) = plte(idx * 3 + 2)
            }
            px += 1
          }
          prev = cur
          py += 1
        }
      }
    }
    Rgb(w, h, out)
  }

  // ------------------------------------------------- bicubic (Pillow-exact)

  val PrecisionBits = 22
  private val PrecisionScale = (1L << PrecisionBits).toDouble
  val RoundingBias: Long = 1L << (PrecisionBits - 1)

  /** Pillow's bicubic kernel, a = −0.5 (resample.rs:27-37). */
  def bicubicKernel(v: Double): Double = {
    val A = -0.5
    val x = math.abs(v)
    if (x < 1.0) ((A + 2.0) * x - (A + 3.0)) * x * x + 1.0
    else if (x < 2.0) (((x - 5.0) * x + 8.0) * x - 4.0) * A
    else 0.0
  }

  private def roundHalfTowardsZero(v: Double): Long =
    if (v >= 0.0) math.floor(v + 0.5).toLong else math.ceil(v + 0.5).toLong

  /** One output index's taps: first source index + integer weights
    * (22-bit fixed point, zero-padded to ksize).
    */
  final case class Tap(xmin: Int, weights: Array[Int])

  /** Pillow's compute_coeffs (resample.rs:39-100): normalized double
    * weights quantized to i32 with round-half-away (trunc toward zero
    * after ±0.5 bias), per output index.
    */
  def computeCoeffs(inSize: Int, outSize: Int): Array[Tap] = {
    val scale = inSize.toDouble / outSize.toDouble
    val filterscale = math.max(scale, 1.0)
    val support = 2.0 * filterscale
    val ksize = math.ceil(support).toInt * 2 + 1
    Array.tabulate(outSize) { i =>
      val center = (i + 0.5) * scale
      var xmin = roundHalfTowardsZero(center - support)
      if (xmin < 0) xmin = 0
      var xmax = roundHalfTowardsZero(center + support)
      if (xmax > inSize) xmax = inSize.toLong
      if (xmin >= inSize) xmin = (inSize - 1).toLong
      if (xmax <= xmin) xmax = xmin + 1
      val length = (xmax - xmin).toInt
      val ss = 1.0 / filterscale
      val row = new Array[Double](ksize)
      var sum = 0.0
      var j = 0
      while (j < length) {
        val w = bicubicKernel((xmin + j - center + 0.5) * ss)
        row(j) = w; sum += w; j += 1
      }
      if (sum != 0.0) { j = 0; while (j < length) { row(j) /= sum; j += 1 } }
      val ints = new Array[Int](ksize)
      j = 0
      while (j < ksize) {
        val v = row(j)
        ints(j) = if (v < 0.0) (-0.5 + v * PrecisionScale).toInt
                  else (0.5 + v * PrecisionScale).toInt
        j += 1
      }
      Tap(xmin.toInt, ints)
    }
  }

  private def clip8(acc: Long): Byte = {
    val s = acc >> PrecisionBits
    (if (s < 0) 0 else if (s > 255) 255 else s).toByte
  }

  /** Separable two-pass resize with per-pass u8 clipping — byte-for-byte
    * the reference's resize_bicubic (resample.rs:102-160).
    */
  def resizeBicubic(src: Rgb, dw: Int, dh: Int): Rgb = {
    if (src.w == dw && src.h == dh) return src // identity weights anyway
    val cx = computeCoeffs(src.w, dw)
    val cy = computeCoeffs(src.h, dh)
    val horizontal = new Array[Byte](src.h * dw * 3)
    var y = 0
    while (y < src.h) {
      val srcRow = y * src.w * 3
      var dx = 0
      while (dx < dw) {
        val t = cx(dx)
        var a0 = RoundingBias; var a1 = RoundingBias; var a2 = RoundingBias
        var j = 0
        while (j < t.weights.length) {
          val wgt = t.weights(j).toLong
          if (wgt != 0L) {
            val p = srcRow + (t.xmin + j) * 3
            a0 += (src.data(p) & 0xffL) * wgt
            a1 += (src.data(p + 1) & 0xffL) * wgt
            a2 += (src.data(p + 2) & 0xffL) * wgt
          }
          j += 1
        }
        val d = (y * dw + dx) * 3
        horizontal(d) = clip8(a0); horizontal(d + 1) = clip8(a1)
        horizontal(d + 2) = clip8(a2)
        dx += 1
      }
      y += 1
    }
    val out = new Array[Byte](dw * dh * 3)
    var dy = 0
    while (dy < dh) {
      val t = cy(dy)
      var dx = 0
      while (dx < dw) {
        var a0 = RoundingBias; var a1 = RoundingBias; var a2 = RoundingBias
        var j = 0
        while (j < t.weights.length) {
          val wgt = t.weights(j).toLong
          if (wgt != 0L) {
            val p = ((t.xmin + j) * dw + dx) * 3
            a0 += (horizontal(p) & 0xffL) * wgt
            a1 += (horizontal(p + 1) & 0xffL) * wgt
            a2 += (horizontal(p + 2) & 0xffL) * wgt
          }
          j += 1
        }
        val d = (dy * dw + dx) * 3
        out(d) = clip8(a0); out(d + 1) = clip8(a1); out(d + 2) = clip8(a2)
        dx += 1
      }
      dy += 1
    }
    Rgb(dw, dh, out)
  }

  // ----------------------------------------------- global view + tiles

  /** Rust round_ties_to_even mirror (model/mod.rs:1705-1716):
    * half-away round unless the value is an exact .5 tie, in which case
    * pick the even neighbor.
    */
  def roundTiesToEven(v: Double): Long = {
    val rounded = if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)
    if (math.abs(v - rounded) != 0.5) rounded.toLong
    else {
      val truncated = v.toLong // trunc toward zero, like f64::trunc
      if (truncated % 2 == 0) truncated
      else truncated + (if (v > 0) 1L else -1L)
    }
  }

  val CanvasGray: Byte = 127.toByte // (0.5 * 255) as u8

  /** Letterboxed global view (model/mod.rs:1718-1741): scale to fit,
    * round-ties-to-even dims/offsets, bicubic resize, centered paste on a
    * mid-gray canvas.
    */
  def buildGlobalView(src: Rgb, base: Int): Rgb = {
    val canvas = new Array[Byte](base * base * 3)
    java.util.Arrays.fill(canvas, CanvasGray)
    if (src.w == 0 || src.h == 0) return Rgb(base, base, canvas)
    val scale = math.min(base.toDouble / src.w, base.toDouble / src.h)
    val newW = math.min(base.toLong, math.max(1L, roundTiesToEven(src.w * scale))).toInt
    val newH = math.min(base.toLong, math.max(1L, roundTiesToEven(src.h * scale))).toInt
    val resized = resizeBicubic(src, newW, newH)
    val xOff = roundTiesToEven((base - newW) * 0.5).toInt
    val yOff = roundTiesToEven((base - newH) * 0.5).toInt
    var y = 0
    while (y < newH) {
      var x = 0
      while (x < newW) {
        val s = (y * newW + x) * 3
        val d = ((y + yOff) * base + (x + xOff)) * 3
        canvas(d) = resized.data(s); canvas(d + 1) = resized.data(s + 1)
        canvas(d + 2) = resized.data(s + 2)
        x += 1
      }
      y += 1
    }
    Rgb(base, base, canvas)
  }

  /** Tile crops of the (already ratio-sized) image — preprocess.rs:57-66.
    * Caller resizes to (tileSize·rw, tileSize·rh) first.
    */
  def cropTiles(img: Rgb, tileSize: Int): Seq[Rgb] = {
    val tw = img.w / tileSize; val th = img.h / tileSize
    (0 until tw * th).map { i =>
      val x0 = (i % tw) * tileSize; val y0 = (i / tw) * tileSize
      val out = new Array[Byte](tileSize * tileSize * 3)
      var y = 0
      while (y < tileSize) {
        System.arraycopy(img.data, ((y0 + y) * img.w + x0) * 3,
          out, y * tileSize * 3, tileSize * 3)
        y += 1
      }
      Rgb(tileSize, tileSize, out)
    }
  }

  // ------------------------------------------------------- checksums

  val FpMod = 1000000007L

  /** Polynomial fold over interleaved row-major RGB bytes — verifies the
    * decoded/resampled pixel VALUES in storage order — over rows
    * `y % stride == 0`. The full-geometry queries gate a deterministic
    * row slice so the DuckDB replay stays tractable (a full 1024² fold is
    * ~6 s per image in SQL); the sampled rows are computed by the same
    * convolution as the rest, and the 16-px oracle gates every byte
    * (stride 1) at small geometry.
    */
  def pixelChecksum(img: Rgb, stride: Int = 1): Long = {
    var acc = 0L
    var y = 0
    while (y < img.h) {
      if (y % stride == 0) {
        var i = y * img.w * 3
        val end = (y + 1) * img.w * 3
        while (i < end) {
          acc = (acc * 31 + (img.data(i) & 0xffL)) % FpMod
          i += 1
        }
      }
      y += 1
    }
    acc
  }

  /** Polynomial fold over the NORMALIZED tensor in CHW planar order,
    * over rows `y % stride == 0`, using exact integer numerators:
    * (v/255 − 0.5)/0.5 = (2v − 255)/255, folded as the non-negative 2v
    * (offset +255 cancels the constant) — verifies P9 normalization AND
    * the channel-major tensor layout (model/mod.rs:1743-1761), in an
    * order distinct from [[pixelChecksum]].
    */
  def normChecksum(img: Rgb, stride: Int = 1): Long = {
    var acc = 0L
    var c = 0
    while (c < 3) {
      var y = 0
      while (y < img.h) {
        if (y % stride == 0) {
          var x = 0
          while (x < img.w) {
            val v = img.data((y * img.w + x) * 3 + c) & 0xffL
            acc = (acc * 31 + (2 * v)) % FpMod
            x += 1
          }
        }
        y += 1
      }
      c += 1
    }
    acc
  }

  /** ORDER-FREE full-frame checksum over interleaved row-major RGB:
    * every value contributes `(pos + 1) · h(v)` with
    * `pos = (y·w + x)·3 + c` and `h(v) = (v+1)(v+31) mod P`, summed
    * mod P. Because the position is encoded in each term, the sum is a
    * commutative aggregation the oracle computes with a plain SQL
    * `sum()` over a generated grid — no 3M-element list materialization
    * or ordered fold (the reason the ref-geometry gate was row-sliced) —
    * yet it stays position-sensitive: h is injective on [0, 255]
    * ((v₁−v₂)(v₁+v₂+32) ≠ 0 mod P), so swapping or altering any single
    * pair of unequal values changes the checksum.
    */
  def pixelChecksumFull(img: Rgb): Long = {
    var acc = 0L
    var i = 0
    while (i < img.data.length) {
      val v = img.data(i) & 0xffL
      acc = (acc + (i + 1L) * (((v + 1L) * (v + 31L)) % FpMod)) % FpMod
      i += 1
    }
    acc
  }

  /** [[pixelChecksumFull]] over the normalized tensor in CHW planar
    * order: `pos = c·w·h + y·w + x`, value `u = 2v` (the exact integer
    * numerator of (v/255 − 0.5)/0.5 — see [[normChecksum]]).
    */
  def normChecksumFull(img: Rgb): Long = {
    var acc = 0L
    var p = 0L
    var c = 0
    while (c < 3) {
      var y = 0
      while (y < img.h) {
        var x = 0
        while (x < img.w) {
          val u = 2L * (img.data((y * img.w + x) * 3 + c) & 0xffL)
          acc = (acc + (p + 1L) * (((u + 1L) * (u + 31L)) % FpMod)) % FpMod
          p += 1
          x += 1
        }
        y += 1
      }
      c += 1
    }
    acc
  }
}
