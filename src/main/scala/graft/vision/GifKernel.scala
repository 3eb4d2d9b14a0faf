package graft.vision

/** Real GIF codec — the container the engine previously only
  * header-parsed (MediaOps.MediaHeaders.gif synthesizes the 13-byte
  * header; this decodes/encodes whole frames). Palette-indexed: encode
  * takes an index raster plus a 256-entry RGB palette and compresses
  * with GIF's variable-code-width LZW (min code sizes 2..8 →
  * 3..12-bit codes, CLEAR/EOI control codes, 4096-entry dictionary
  * with reset on overflow, LSB-first bit packing, ≤255-byte data
  * sub-blocks), optionally in the 4-pass GIF89a interlace row order;
  * decode inverts it, tolerating 87a/89a headers, skipping extension
  * blocks, de-interlacing, and honoring a local color table over the
  * global one. Pure JVM, no codec jar — the GIF sibling of the PNG
  * Inflater path (PixelKernel.decodePng). Ref analog: the `image`
  * crate's GIF support behind image::open
  * (/root/reference/crates/cli/src/app.rs:95-101).
  *
  * The LZW algorithm is the public GIF87a specification (CompuServe,
  * 1987), appendix F — every step below is pinned by that spec.
  */
object GifKernel {

  /** Palette-indexed frame: `idx` row-major w×h palette indices,
    * `palette` 768 bytes of RGB triples.
    */
  final case class Indexed(w: Int, h: Int, idx: Array[Byte], palette: Array[Byte]) {
    require(palette.length == 768, s"palette must be 256 RGB entries")
    require(w > 0 && h > 0, s"raster must be non-empty, got ${w}x$h")
    require(idx.length == w * h, s"index raster must be w*h")
  }

  def toRgb(img: Indexed): PixelKernel.Rgb = {
    val data = new Array[Byte](img.w * img.h * 3)
    var i = 0
    while (i < img.idx.length) {
      val p = (img.idx(i) & 0xff) * 3
      data(i * 3) = img.palette(p)
      data(i * 3 + 1) = img.palette(p + 1)
      data(i * 3 + 2) = img.palette(p + 2)
      i += 1
    }
    PixelKernel.Rgb(img.w, img.h, data)
  }

  private val MinCodeSize = 8
  private val MaxDict = 4096

  /** GIF-variant LZW compress of the index stream. The spec permits
    * LZW minimum code sizes 2..8 (GIF87a appendix F); every index must
    * fit in `minCode` bits.
    */
  private def lzwEncode(idx: Array[Byte], minCode: Int): Array[Byte] = {
    val clearCode = 1 << minCode
    val eoiCode = clearCode + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var codeSize = minCode + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    // dictionary: (prefix code, next byte) -> code
    var dict = new java.util.HashMap[Integer, Integer]()
    var nextCode = eoiCode + 1
    emit(clearCode)
    var cur = idx(0) & 0xff
    var i = 1
    while (i < idx.length) {
      val b = idx(i) & 0xff
      val key = (cur << 8) | b
      val hit = dict.get(key)
      if (hit != null) cur = hit
      else {
        emit(cur)
        if (nextCode < MaxDict) {
          dict.put(key, nextCode)
          nextCode += 1
          // The decoder learns each entry ONE CODE LATER than the
          // encoder creates it (it needs the next code's first byte),
          // so the encoder widens one entry after the power of two:
          // when nextCode passes (1<<codeSize)+1, the next emitted code
          // is the first one the decoder reads at the wider size.
          if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
        } else {
          emit(clearCode)
          dict = new java.util.HashMap[Integer, Integer]()
          nextCode = eoiCode + 1
          codeSize = minCode + 1
        }
        cur = b
      }
      i += 1
    }
    emit(cur)
    emit(eoiCode)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF-variant LZW decompress to exactly `n` indices. */
  private def lzwDecode(data: Array[Byte], n: Int, minCode: Int): Array[Byte] = {
    val clearCode = 1 << minCode
    val eoiCode = clearCode + 1
    val out = new Array[Byte](n)
    var outPos = 0
    val prefix = new Array[Int](MaxDict)
    val suffix = new Array[Byte](MaxDict)
    var i = 0
    while (i < clearCode) { prefix(i) = -1; suffix(i) = i.toByte; i += 1 }
    var nextCode = eoiCode + 1
    var codeSize = minCode + 1
    var bitBuf = 0L
    var bitCnt = 0
    var bytePos = 0
    var prev = -1
    val stack = new Array[Byte](MaxDict + 2)
    def firstByte(code: Int): Byte = {
      var c = code
      while (prefix(c) >= 0) c = prefix(c)
      suffix(c)
    }
    var done = false
    while (!done && outPos < n) {
      while (bitCnt < codeSize && bytePos < data.length) {
        bitBuf |= (data(bytePos) & 0xffL) << bitCnt
        bitCnt += 8
        bytePos += 1
      }
      if (bitCnt < codeSize) done = true
      else {
        val code = (bitBuf & ((1L << codeSize) - 1)).toInt
        bitBuf >>>= codeSize
        bitCnt -= codeSize
        if (code == clearCode) {
          nextCode = eoiCode + 1
          codeSize = minCode + 1
          prev = -1
        } else if (code == eoiCode) done = true
        else {
          // expand `code` (or prev+first(prev) for the just-assigned case)
          var sp = 0
          var c = if (code == nextCode) {
                    require(prev >= 0, s"corrupt LZW stream: code $code follows a clear")
                    stack(sp) = firstByte(prev); sp += 1; prev
                  } else code
          require(c < nextCode, s"corrupt LZW stream: code $c >= $nextCode")
          // walk the prefix chain to the root (roots have prefix -1)
          while (c >= 0) {
            stack(sp) = suffix(c); sp += 1
            c = prefix(c)
          }
          while (sp > 0 && outPos < n) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
          if (prev >= 0 && nextCode < MaxDict) {
            prefix(nextCode) = prev
            suffix(nextCode) = firstByte(code)
            nextCode += 1
            if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        }
      }
    }
    require(outPos == n, s"LZW stream ended at $outPos of $n indices")
    out
  }

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** GIF89a interlace passes: (first row, row step) in transmission
    * order — rows 0,8,16…, then 4,12…, then 2,6…, then 1,3,5….
    */
  private val InterlacePasses = Array((0, 8), (4, 8), (2, 4), (1, 2))

  /** Row order in which an interlaced frame is transmitted. */
  private def interlaceRowOrder(h: Int): Array[Int] = {
    val order = new Array[Int](h)
    var o = 0
    for ((start, step) <- InterlacePasses) {
      var r = start
      while (r < h) { order(o) = r; o += 1; r += step }
    }
    order
  }

  /** Encode a single-frame GIF89a with a 256-entry global color table.
    * `minCode` is the LZW minimum code size (spec range 2..8; every
    * index must fit in `minCode` bits); `interlaced` transmits rows in
    * the 4-pass GIF89a interlace order and sets the descriptor flag.
    */
  def encodeGif(img: Indexed, minCode: Int = MinCodeSize,
                interlaced: Boolean = false): Array[Byte] = {
    require(minCode >= 2 && minCode <= 8, s"min code size $minCode out of spec range 2..8")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(img.w)); out.write(le16(img.h))
    out.write(0xf7) // global table, 8-bit color res, 256 entries
    out.write(0)    // background color index
    out.write(0)    // pixel aspect ratio
    out.write(img.palette)
    writeFrame(out, 0, 0, img.w, img.h, img.idx, interlaced, minCode)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Gather rows into the 4-pass interlace transmission order — the
    * encode-side permutation; [[scatterInterlaced]] is its inverse.
    */
  private def gatherInterlaced(idx: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val permuted = new Array[Byte](idx.length)
    val order = interlaceRowOrder(h)
    var o = 0
    while (o < h) {
      System.arraycopy(idx, order(o) * w, permuted, o * w, w)
      o += 1
    }
    permuted
  }

  /** Scatter transmitted (pass-order) rows back to natural order. */
  private def scatterInterlaced(raw: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](raw.length)
    val order = interlaceRowOrder(h)
    var o = 0
    while (o < h) {
      System.arraycopy(raw, o * w, out, order(o) * w, w)
      o += 1
    }
    out
  }

  /** Write one frame's wire data: image descriptor, interlace gather,
    * LZW compression, ≤255-byte data sub-blocks, terminator — shared by
    * the single-frame and animated writers so the two cannot drift.
    * Guards every index against the code width (an out-of-range index
    * would collide with the CLEAR/EOI control codes and corrupt the
    * stream silently).
    */
  private def writeFrame(out: java.io.ByteArrayOutputStream, left: Int, top: Int,
                         w: Int, h: Int, idx: Array[Byte],
                         interlaced: Boolean, minCode: Int): Unit = {
    if (minCode < 8) {
      val limit = 1 << minCode
      require(idx.forall(b => (b & 0xff) < limit),
        s"palette index out of range for $minCode-bit codes")
    }
    out.write(0x2c)
    out.write(le16(left)); out.write(le16(top))
    out.write(le16(w)); out.write(le16(h))
    out.write(if (interlaced) 0x40 else 0)
    out.write(minCode)
    val lzw = lzwEncode(if (interlaced) gatherInterlaced(idx, w, h) else idx, minCode)
    var off = 0
    while (off < lzw.length) {
      val len = math.min(255, lzw.length - off)
      out.write(len)
      out.write(lzw, off, len)
      off += len
    }
    out.write(0) // block terminator
  }

  /** One frame of an animated GIF: a sub-rectangle of the logical
    * screen at (left, top), its own index raster, optionally interlaced
    * on the wire, optionally transparent at one palette index (those
    * pixels leave the canvas untouched), with a GIF89a disposal method
    * (0/1 = leave canvas, 2 = restore rect to background, 3 = restore
    * the whole canvas to its pre-frame state after display).
    */
  final case class AnimFrame(left: Int, top: Int, w: Int, h: Int,
                             idx: Array[Byte], interlaced: Boolean = false,
                             transparentIdx: Option[Int] = None,
                             disposal: Int = 1, delayCs: Int = 4) {
    require(w > 0 && h > 0 && idx.length == w * h, "frame raster must be w*h")
    require(left >= 0 && top >= 0, "frame offset must be non-negative")
    require(disposal >= 0 && disposal <= 3, s"unsupported disposal $disposal")
  }

  /** Encode a multi-frame animated GIF89a: logical screen + global
    * palette, NETSCAPE looping extension, then per frame a
    * graphic-control extension (delay, disposal, transparency) and a
    * sub-rectangle image descriptor. Frames may interlace individually.
    */
  def encodeGifAnim(screenW: Int, screenH: Int, palette: Array[Byte],
                    frames: Seq[AnimFrame], minCode: Int = MinCodeSize): Array[Byte] = {
    require(palette.length == 768, "palette must be 256 RGB entries")
    require(frames.nonEmpty, "need at least one frame")
    require(minCode >= 2 && minCode <= 8, s"min code size $minCode out of spec range 2..8")
    frames.foreach { f =>
      require(f.left + f.w <= screenW && f.top + f.h <= screenH,
        s"frame rect ${f.w}x${f.h}@(${f.left},${f.top}) exceeds ${screenW}x$screenH")
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(screenW)); out.write(le16(screenH))
    out.write(0xf7); out.write(0); out.write(0)
    out.write(palette)
    // NETSCAPE2.0 application extension: loop forever
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); out.write(le16(0)); out.write(0)
    for (f <- frames) {
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write((f.disposal << 2) | (if (f.transparentIdx.isDefined) 1 else 0))
      out.write(le16(f.delayCs))
      out.write(f.transparentIdx.getOrElse(0))
      out.write(0) // sub-block terminator
      writeFrame(out, f.left, f.top, f.w, f.h, f.idx, f.interlaced, minCode)
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Bounds-checked reads over a GIF byte stream: reading past its end
    * is the structured failure "truncated GIF", never an AIOOBE.
    */
  private final class GifBytes(bytes: Array[Byte]) {
    private def need(end: Int): Unit =
      if (end > bytes.length) throw new IllegalArgumentException("truncated GIF")
    def u8(o: Int): Int = { need(o + 1); bytes(o) & 0xff }
    def u16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    def copy(o: Int, dst: Array[Byte], n: Int): Unit = {
      need(o + n)
      System.arraycopy(bytes, o, dst, 0, n)
    }
    /** Walk the length-prefixed sub-blocks at `pos`, appending their data
      * to `sink` when given; returns the position after the terminator.
      */
    def subBlocks(pos: Int, sink: java.io.ByteArrayOutputStream = null): Int = {
      var p = pos
      var len = u8(p)
      while (len != 0) {
        need(p + 1 + len)
        if (sink != null) sink.write(bytes, p + 1, len)
        p += 1 + len
        len = u8(p)
      }
      p + 1
    }
  }

  /** Decode an animated GIF to the sequence of COMPOSITED full-canvas
    * frames: each element is the logical screen as displayed after that
    * frame — sub-rectangle frames are scattered onto the canvas,
    * transparent pixels leave it untouched, disposal 2 restores the
    * frame's rect to the background index before the next frame, and
    * disposal 3 restores the whole canvas to its pre-frame state
    * (reserved methods 4..7 are a structured failure).
    * Compositing happens at palette-index level, so frames must share
    * the global palette (a per-frame local table is a structured
    * failure — the spec allows it, but index-level composition would
    * silently mix palettes).
    */
  def decodeGifAnim(bytes: Array[Byte]): Seq[Indexed] = {
    require(bytes.length > 13 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F', "not a GIF")
    val in = new GifBytes(bytes)
    import in.{u8, u16}
    val screenW = u16(6); val screenH = u16(8)
    require(screenW > 0 && screenH > 0 &&
      screenW.toLong * screenH <= 64L * 1024 * 1024,
      s"implausible screen ${screenW}x$screenH")
    val packed = u8(10)
    require((packed & 0x80) != 0, "animated decode requires a global color table")
    val bgIndex = u8(11)
    val tableSize = 2 << (packed & 0x07)
    var pos = 13
    val palette = new Array[Byte](768)
    in.copy(pos, palette, tableSize * 3)
    pos += tableSize * 3
    val canvas = new Array[Byte](screenW * screenH)
    java.util.Arrays.fill(canvas, bgIndex.toByte)
    // allocation sanity: every composited frame clones the canvas, so a
    // crafted stream with thousands of descriptors must fail structured
    // before the clones aggregate to multi-GB
    val maxFrames = (256L * 1024 * 1024 / (screenW.toLong * screenH))
      .min(4096L).toInt.max(1)
    var frameCount = 0
    val frames = Seq.newBuilder[Indexed]
    var transparentIdx = -1
    var disposal = 0
    var done = false
    while (!done) {
      u8(pos) match {
        case 0x3b => done = true
        case 0x21 =>
          val label = u8(pos + 1)
          if (label == 0xf9 && u8(pos + 2) >= 4) {
            val gce = u8(pos + 3)
            disposal = (gce >> 2) & 0x07
            // 4..7 are reserved by GIF89a — mis-compositing them
            // silently would corrupt every later frame, so fail loud
            require(disposal <= 3, s"reserved disposal method $disposal")
            transparentIdx = if ((gce & 1) != 0) u8(pos + 6) else -1
          }
          pos = in.subBlocks(pos + 2)
        case 0x2c =>
          val left = u16(pos + 1); val top = u16(pos + 3)
          val w = u16(pos + 5); val h = u16(pos + 7)
          require(w > 0 && h > 0 && left + w <= screenW && top + h <= screenH,
            s"frame rect ${w}x$h@($left,$top) exceeds ${screenW}x$screenH")
          val localPacked = u8(pos + 9)
          require((localPacked & 0x80) == 0,
            "per-frame local color table unsupported in index-level animation compositing")
          val interlaced = (localPacked & 0x40) != 0
          pos += 10
          val minCode = u8(pos)
          require(minCode >= 2 && minCode <= 8, s"unsupported min code size $minCode")
          val lzw = new java.io.ByteArrayOutputStream()
          pos = in.subBlocks(pos + 1, lzw)
          val raw = lzwDecode(lzw.toByteArray, w * h, minCode)
          val rect = if (interlaced) scatterInterlaced(raw, w, h) else raw
          // disposal 3 restores the WHOLE canvas to its pre-frame state
          val prevCanvas = if (disposal == 3) canvas.clone() else null
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = rect(y * w + x) & 0xff
              if (v != transparentIdx)
                canvas((top + y) * screenW + left + x) = v.toByte
              x += 1
            }
            y += 1
          }
          frameCount += 1
          require(frameCount <= maxFrames,
            s"implausible animation: over $maxFrames frames at ${screenW}x$screenH")
          frames += Indexed(screenW, screenH, canvas.clone(), palette)
          if (disposal == 2) {
            var ry = 0
            while (ry < h) {
              java.util.Arrays.fill(canvas, (top + ry) * screenW + left,
                (top + ry) * screenW + left + w, bgIndex.toByte)
              ry += 1
            }
          } else if (disposal == 3) {
            System.arraycopy(prevCanvas, 0, canvas, 0, canvas.length)
          }
          transparentIdx = -1
          disposal = 0
        case other =>
          throw new IllegalArgumentException(f"unexpected GIF block 0x$other%02x")
      }
    }
    val out = frames.result()
    require(out.nonEmpty, "no frames in animated GIF")
    out
  }

  /** Decode a single-frame GIF (87a or 89a), skipping extensions.
    * Handles LZW min code sizes 2..8, the 4-pass GIF89a interlace, and
    * a local color table (which overrides the global palette, per spec).
    */
  def decodeGif(bytes: Array[Byte]): Indexed = {
    require(bytes.length > 13 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F', "not a GIF")
    val in = new GifBytes(bytes)
    import in.{u8, u16}
    val packed = u8(10)
    var pos = 13
    val palette = new Array[Byte](768)
    if ((packed & 0x80) != 0) {
      val tableSize = 2 << (packed & 0x07)
      in.copy(pos, palette, tableSize * 3)
      pos += tableSize * 3
    }
    // skip extension blocks (0x21 label, then length-prefixed sub-blocks)
    while (u8(pos) == 0x21) pos = in.subBlocks(pos + 2)
    require(u8(pos) == 0x2c, "image descriptor expected")
    val w = u16(pos + 5); val h = u16(pos + 7)
    // allocation sanity: corrupt descriptors must not request multi-GB
    // rasters (w*h can also overflow Int) — fail structured first
    require(w > 0 && h > 0 && w.toLong * h <= 64L * 1024 * 1024,
      s"implausible raster ${w}x$h")
    val localPacked = u8(pos + 9)
    val interlaced = (localPacked & 0x40) != 0
    pos += 10
    if ((localPacked & 0x80) != 0) {
      val localSize = 2 << (localPacked & 0x07)
      java.util.Arrays.fill(palette, 0.toByte)
      in.copy(pos, palette, localSize * 3)
      pos += localSize * 3
    } else require((packed & 0x80) != 0, "no global or local color table")
    val minCode = u8(pos)
    require(minCode >= 2 && minCode <= 8, s"unsupported min code size $minCode")
    val lzw = new java.io.ByteArrayOutputStream()
    in.subBlocks(pos + 1, lzw)
    val raw = lzwDecode(lzw.toByteArray, w * h, minCode)
    val idx = if (interlaced) scatterInterlaced(raw, w, h) else raw
    Indexed(w, h, idx, palette)
  }
}
