package graft.ops

/** Pure-JVM GIF (87a/89a) decoder for the multimodal decode tier —
  * the compressed-palette format next to JPEG. It stays hand-written
  * because the JDK's reader accepts a file with no trailer. Zero
  * native codecs: header + logical-screen parse, palette
  * read, variable-width LZW with clear/EOI handling, sub-block
  * framing, and the structural walk to the trailer.
  *
  * Supported subset (the honest claim for a from-scratch parser):
  * the FIRST image frame, global or local color table, sequential or
  * interlaced (Adam-style row passes permute row ORDER only, and the
  * decode surface is per-channel means — row-order-free, same
  * argument as the BMP top-down case — so both layouts decode
  * identically here), GIF89a extensions skipped structurally. Frames
  * flagged transparent return None (a mean over "no pixel" is not a
  * mean; such payloads fall to the histogram tier), as does any
  * palette-less, truncated, trailer-less, or LZW-malformed payload:
  * a coincidental magic match must never produce garbage features.
  *
  * Animated GIFs: later frames are walked for structural validity
  * (sub-block framing to the trailer) but only frame 1 is decoded —
  * the q54 frame-sample analog for video keeps per-row output
  * bounded the same way.
  */
object GifDecoder {

  def decode(p: Array[Byte],
      grid: Array[Long] = null): Option[MultimodalOps.DecodedImage] =
    try decodeImpl(p, grid)
    catch { case _: ArrayIndexOutOfBoundsException => None }

  private def decodeImpl(p: Array[Byte],
      grid: Array[Long]): Option[MultimodalOps.DecodedImage] = {
    if (p.length < 14) return None
    val hdr = new String(p, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    def u16(i: Int): Int = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
    val screenFlags = p(10) & 0xff
    var i = 13
    var gct: Array[Int] = null // packed 0xRRGGBB
    if ((screenFlags & 0x80) != 0) {
      val n = 2 << (screenFlags & 7)
      if (i + 3 * n > p.length) return None
      gct = readPalette(p, i, n); i += 3 * n
    }
    var transparent = false
    var first: Option[MultimodalOps.DecodedImage] = None
    while (true) {
      if (i >= p.length) return None // ran out before the trailer
      (p(i) & 0xff) match {
        case 0x3b => // trailer: the file is structurally complete
          return first
        case 0x21 => // extension: label + sub-blocks
          if (i + 2 > p.length) return None
          val label = p(i + 1) & 0xff
          i += 2
          if (label == 0xf9 && i + 1 < p.length && (p(i) & 0xff) >= 1 &&
            (p(i + 1) & 1) == 1) transparent = true
          i = skipSubBlocks(p, i)
          if (i < 0) return None
        case 0x2c => // image descriptor
          if (i + 10 > p.length) return None
          val w = u16(i + 5); val h = u16(i + 7)
          val iflags = p(i + 9) & 0xff
          i += 10
          var palette = gct
          if ((iflags & 0x80) != 0) {
            val n = 2 << (iflags & 7)
            if (i + 3 * n > p.length) return None
            palette = readPalette(p, i, n); i += 3 * n
          }
          if (first.isEmpty) {
            if (palette == null || transparent || w <= 0 || h <= 0) return None
            if (i >= p.length) return None
            val minCode = p(i) & 0xff
            if (minCode < 2 || minCode > 8) return None
            val (sums, next) = lzwChannelSums(p, i + 1, minCode,
              w.toLong * h, palette, w, h, (iflags & 0x40) != 0, grid)
            if (next < 0) return None
            i = next
            val n = w.toDouble * h
            first = Some(MultimodalOps.DecodedImage(w, h,
              sums(0) / n, sums(1) / n, sums(2) / n))
          } else {
            // later frames: structural skip (min code byte + sub-blocks)
            i = skipSubBlocks(p, i + 1)
            if (i < 0) return None
          }
          transparent = false // a GCE applies to the next frame only
        case _ => return None
      }
    }
    None // unreachable
  }

  private def readPalette(p: Array[Byte], off: Int, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var k = 0
    while (k < n) {
      out(k) = ((p(off + 3 * k) & 0xff) << 16) |
        ((p(off + 3 * k + 1) & 0xff) << 8) | (p(off + 3 * k + 2) & 0xff)
      k += 1
    }
    out
  }

  /** Advance past a sub-block chain (len byte + payload, 0 ends).
    * Returns the index after the terminator, or -1 if truncated. */
  private def skipSubBlocks(p: Array[Byte], start: Int): Int = {
    var i = start
    while (true) {
      if (i >= p.length) return -1
      val n = p(i) & 0xff
      i += 1
      if (n == 0) return i
      if (i + n > p.length) return -1
      i += n
    }
    -1
  }

  /** Decode the LZW pixel stream directly into per-channel sums (the
    * raster is never materialized — decode output is 3 longs however
    * large the frame). Codes are read LSB-first across the
    * concatenated sub-blocks; the dictionary is the standard
    * prefix/suffix pair of arrays, reset on CLEAR. Strictness: every
    * emitted root must index the palette, exactly nPixels pixels must
    * decode, and the sub-block chain must terminate — anything else
    * returns next = -1 and the payload falls out of the decode tier.
    * Returns (channel sums, index after the data terminator). */
  /** GIF89a appendix E interlace: pass 1 rows 0,8,…; pass 2 rows
    * 4,12,…; pass 3 rows 2,6,…; pass 4 rows 1,3,… — the k-th emitted
    * row's actual y. Channel means are row-order-free, the luma grid
    * is not. */
  private[graft] def interlaceRow(h: Int, k: Int): Int = {
    val n1 = (h + 7) / 8
    val n2 = (h + 3) / 8
    val n3 = (h + 1) / 4
    if (k < n1) k * 8
    else if (k < n1 + n2) (k - n1) * 8 + 4
    else if (k < n1 + n2 + n3) (k - n1 - n2) * 4 + 2
    else (k - n1 - n2 - n3) * 2 + 1
  }

  private def lzwChannelSums(p: Array[Byte], start: Int, minCode: Int,
      nPixels: Long, palette: Array[Int], w: Int, h: Int,
      interlaced: Boolean, grid: Array[Long]): (Array[Double], Int) = {
    val fail = (null: Array[Double], -1)
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var dictSize = eoi + 1
    var codeSize = minCode + 1
    val sums = new Array[Double](3)
    var decoded = 0L
    // bit reader state over the sub-block chain
    var i = start        // next byte to read
    var blockEnd = start // exclusive end of the current sub-block
    var acc = 0L
    var accBits = 0
    var exhausted = false
    var terminated = false // exhausted via the 0-length terminator, not truncation
    def fill(): Unit = {
      while (accBits <= 24 && !exhausted) {
        if (i == blockEnd) {
          if (i >= p.length) { exhausted = true; return }
          val n = p(i) & 0xff
          i += 1
          if (n == 0) { exhausted = true; terminated = true; blockEnd = i; return }
          if (i + n > p.length) { exhausted = true; return }
          blockEnd = i + n
        }
        acc |= (p(i) & 0xff).toLong << accBits
        accBits += 8
        i += 1
      }
    }
    def nextCode(): Int = {
      fill()
      if (accBits < codeSize) return -1
      val c = (acc & ((1L << codeSize) - 1)).toInt
      acc >>>= codeSize
      accBits -= codeSize
      c
    }
    // emit one root pixel into the channel sums
    def emit(root: Int): Boolean = {
      if (root >= palette.length || decoded >= nPixels) return false
      val rgb = palette(root)
      val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
      sums(0) += r
      sums(1) += g
      sums(2) += b
      if (grid != null) {
        val seqRow = (decoded / w).toInt
        val y = if (interlaced) interlaceRow(h, seqRow) else seqRow
        MultimodalOps.gridAdd(grid, (decoded % w).toInt, y, w, h, r, g, b)
      }
      decoded += 1
      true
    }
    // expand a code's string (reversed traversal via a stack)
    val stack = new Array[Int](4097)
    def emitString(code: Int): Boolean = {
      var c = code
      var top = 0
      while (c >= clear) { stack(top) = suffix(c); top += 1; c = prefix(c) }
      if (!emit(c)) return false
      var k = top - 1
      while (k >= 0) { if (!emit(stack(k))) return false; k -= 1 }
      true
    }
    def firstRoot(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = nextCode()
      if (code < 0) return fail
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCode + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        if (code >= clear) return fail // first code after clear must be a root
        if (!emit(code)) return fail
        prev = code
      } else {
        if (code > dictSize || (code == dictSize && dictSize >= 4096)) return fail
        val cur = if (code == dictSize) {
          // the KwKwK case: string = prev-string + first(prev)
          if (!emitString(prev) || !emit(firstRoot(prev))) return fail
          code
        } else {
          if (!emitString(code)) return fail
          code
        }
        if (dictSize < 4096) {
          prefix(dictSize) = prev
          suffix(dictSize) = firstRoot(cur)
          dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = cur
      }
      if (decoded == nPixels && !done) {
        // pixels complete: accept EOI or end-of-stream next
        val tail = nextCode()
        if (tail != eoi && tail != -1 && tail != clear) return fail
        done = true
      }
    }
    if (decoded != nPixels) return fail
    // drain to the sub-block terminator so the caller resumes at the
    // next block boundary
    if (!exhausted) {
      var j = blockEnd
      while (j < p.length && (p(j) & 0xff) != 0) j = j + 1 + (p(j) & 0xff)
      if (j >= p.length) return fail
      (sums, j + 1)
    } else if (terminated) (sums, blockEnd)
    else fail // truncated mid-chain is never a successful decode
  }
}
