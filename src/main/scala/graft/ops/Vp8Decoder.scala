package graft.ops

/** Lossy WebP (VP8) keyframe decoder — RFC 6386 re-expressed in pure
  * JVM for the multimodal pixel tier. Round 12 landed the ground
  * layer (bool decoder, frame prefix, full front-of-frame header);
  * round 13 lands the rest of the keyframe path: coefficient token
  * trees with (band, context) probabilities and in-stream updates,
  * per-segment dequantization, the 4×4 integer IDCT and Walsh–
  * Hadamard inverse, whole-macroblock 16×16/8×8 intra prediction
  * (DC/V/H/TM with the 127/129 edge convention), multi-partition
  * token streams, and skip-macroblock context resets — i.e.
  * [[decode]] reconstructs luma AND chroma for any keyframe built
  * from those pieces, pre-loop-filter — including B_PRED macroblocks
  * (per-subblock modes, the ten §12.3 4×4 predictors, interleaved
  * reconstruction; landed later in round 13). Each piece is
  * spec-pinned against a test-side from-the-RFC encoder (the
  * GifDecoder/WebpDecoder posture); see the conformance note at the
  * round-13 section for the one declared edge (codec-default
  * probability tables, including kf_bmode).
  *
  * The ground layer, still exactly as round 12 shipped it:
  *
  *  - the UNCOMPRESSED frame prefix: 3-byte frame tag (keyframe bit,
  *    version, show_frame, first-partition size), the 0x9D012A start
  *    code, 14-bit width/height with 2-bit upscale codes — so lossy
  *    WebP payloads now surface REAL dimensions to the metadata tier
  *    instead of nothing;
  *  - the RFC 6386 §7.2 boolean arithmetic decoder (bool/literal/
  *    signed forms), round-tripped against the §7.1 encoder written
  *    test-side;
  *  - the keyframe compressed-header walk (color space, clamping,
  *    segmentation block with its quantizer/filter deltas and segment
  *    tree probs, loop-filter block with the mode/ref adjustments,
  *    DCT partition count, the full quantizer-index block, refresh
  *    bit) — everything in front of the coefficient-probability
  *    update loop, where the round-13 coefficient path picks up.
  */
object Vp8Decoder {

  /** RFC 6386 §7.2 boolean decoder. `value` holds 16 fresh bits
    * (big-endian) plus up to 8 consumed ones; renormalization pulls a
    * byte every 8 shifts. Reads past the buffer pad zero bits (the
    * RFC's documented tail behavior). */
  final class BoolDecoder(p: Array[Byte], start: Int, end: Int) {
    private var range = 255
    private var value =
      (((if (start < end) p(start) & 0xff else 0) << 8) |
        (if (start + 1 < end) p(start + 1) & 0xff else 0))
    private var pos = start + 2
    private var shifts = 0
    var overrun = false

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      val ret =
        if (value >= bigSplit) { range -= split; value -= bigSplit; 1 }
        else { range = split; 0 }
      while (range < 128) {
        value <<= 1
        range <<= 1
        shifts += 1
        if (shifts == 8) {
          shifts = 0
          if (pos < end) { value |= p(pos) & 0xff; pos += 1 }
          else overrun = true
        }
      }
      ret
    }

    /** n-bit unsigned literal, MSB first, each bit at probability 128. */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** n-bit magnitude followed by a sign bit (the header's
      * "delta + sign" fields). */
    def signedLiteral(n: Int): Int = {
      val mag = literal(n)
      if (bool(128) == 1) -mag else mag
    }

    /** flag-gated signed delta: absent ⇒ 0. */
    def maybeSigned(n: Int): Int = if (bool(128) == 1) signedLiteral(n) else 0
  }

  /** Parsed keyframe header — every field in front of the coefficient
    * probability updates. */
  final case class Vp8Header(
      version: Int, showFrame: Boolean, firstPartSize: Int,
      width: Int, xscale: Int, height: Int, yscale: Int,
      colorSpace: Int, clampingType: Int,
      segmentationEnabled: Boolean, segmentUpdateMap: Boolean,
      segmentQuantDeltas: Array[Int], segmentFilterDeltas: Array[Int],
      segmentAbsDeltas: Boolean, segmentTreeProbs: Array[Int],
      filterType: Int, filterLevel: Int, sharpness: Int,
      refLfDeltas: Array[Int], modeLfDeltas: Array[Int],
      nDctPartitions: Int,
      yAcQi: Int, yDcDelta: Int, y2DcDelta: Int, y2AcDelta: Int,
      uvDcDelta: Int, uvAcDelta: Int,
      refreshEntropyProbs: Boolean)

  /** RIFF walk to a chunk's payload range [start, end). */
  private[ops] def riffPayload(p: Array[Byte], want: String): Option[(Int, Int)] = {
    if (p.length < 20) return None
    def tag(off: Int): String =
      new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32(off: Int): Long = (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    if (tag(0) != "RIFF" || tag(8) != "WEBP") return None
    val riffSize = u32(4)
    if (riffSize + 8 > p.length) return None
    var off = 12
    while (off + 8 <= riffSize + 8) {
      val t = tag(off)
      val sz = u32(off + 4)
      if (off + 8 + sz > p.length) return None
      if (t == want) return Some((off + 8, (off + 8 + sz).toInt))
      off += (8 + sz + (sz & 1)).toInt
    }
    None
  }

  /** Width/height (after upscale codes are stripped — the stored 14-bit
    * values) of a lossy-WebP payload, from the UNCOMPRESSED frame
    * prefix only. None for non-VP8, non-keyframe, or malformed. */
  def dims(p: Array[Byte]): Option[(Int, Int)] =
    riffPayload(p, "VP8 ").flatMap { case (s, e) =>
      parseHeaderAt(p, s, e).map(h => (h.width, h.height))
    }

  /** Full front-of-frame header of a lossy-WebP payload. */
  def parseHeader(p: Array[Byte]): Option[Vp8Header] =
    riffPayload(p, "VP8 ").flatMap { case (s, e) => parseHeaderAt(p, s, e) }

  /** RFC 6386 §9.1–9.4: frame tag, start code, dimensions, then the
    * keyframe compressed header through the quantizer/refresh block. */
  private def parseHeaderAt(p: Array[Byte], start: Int, end: Int)
      : Option[Vp8Header] =
    parseHeaderFull(p, start, end).map(_._1)

  /** [[parseHeaderAt]] plus the live bool decoder (positioned right
    * after the refresh bit — where the token-probability updates
    * start) and the first-partition end, for [[decodeFrame]]. */
  private def parseHeaderFull(p: Array[Byte], start: Int, end: Int)
      : Option[(Vp8Header, BoolDecoder, Int)] = {
    if (end - start < 10) return None
    val b0 = p(start) & 0xff; val b1 = p(start + 1) & 0xff
    val b2 = p(start + 2) & 0xff
    val frameTag = b0 | (b1 << 8) | (b2 << 16)
    val keyFrame = (frameTag & 1) == 0
    val version = (frameTag >> 1) & 7
    val showFrame = ((frameTag >> 4) & 1) == 1
    val firstPartSize = (frameTag >> 5) & 0x7ffff
    if (!keyFrame || version > 3) return None
    // keyframe start code
    if ((p(start + 3) & 0xff) != 0x9d || (p(start + 4) & 0xff) != 0x01 ||
      (p(start + 5) & 0xff) != 0x2a) return None
    val hw = (p(start + 6) & 0xff) | ((p(start + 7) & 0xff) << 8)
    val hh = (p(start + 8) & 0xff) | ((p(start + 9) & 0xff) << 8)
    val w = hw & 0x3fff; val xs = hw >> 14
    val h = hh & 0x3fff; val ys = hh >> 14
    if (w == 0 || h == 0) return None
    val partEnd = math.min(end.toLong, start + 10L + firstPartSize).toInt
    if (partEnd <= start + 10) return None
    val d = new BoolDecoder(p, start + 10, partEnd)

    val colorSpace = d.bool(128)
    val clampingType = d.bool(128)

    // segmentation (§9.3)
    val segQ = new Array[Int](4); val segF = new Array[Int](4)
    val segTree = Array.fill(3)(255)
    var segAbs = false
    var updateMap = false
    val segEnabled = d.bool(128) == 1
    if (segEnabled) {
      updateMap = d.bool(128) == 1
      val updateData = d.bool(128) == 1
      if (updateData) {
        segAbs = d.bool(128) == 1
        var i = 0
        while (i < 4) { segQ(i) = d.maybeSigned(7); i += 1 }
        i = 0
        while (i < 4) { segF(i) = d.maybeSigned(6); i += 1 }
      }
      if (updateMap) {
        var i = 0
        while (i < 3) {
          if (d.bool(128) == 1) segTree(i) = d.literal(8)
          i += 1
        }
      }
    }

    // loop filter (§9.4)
    val filterType = d.bool(128)
    val filterLevel = d.literal(6)
    val sharpness = d.literal(3)
    val refLf = new Array[Int](4); val modeLf = new Array[Int](4)
    if (d.bool(128) == 1) { // lf delta enabled
      if (d.bool(128) == 1) { // update
        var i = 0
        while (i < 4) { refLf(i) = d.maybeSigned(6); i += 1 }
        i = 0
        while (i < 4) { modeLf(i) = d.maybeSigned(6); i += 1 }
      }
    }

    // token partitions (§9.5) + quantizer block (§9.6)
    val nParts = 1 << d.literal(2)
    val yAcQi = d.literal(7)
    val yDc = d.maybeSigned(4)
    val y2Dc = d.maybeSigned(4)
    val y2Ac = d.maybeSigned(4)
    val uvDc = d.maybeSigned(4)
    val uvAc = d.maybeSigned(4)
    val refresh = d.bool(128) == 1 // §9.7 (keyframe form)
    if (d.overrun) return None

    Some((Vp8Header(version, showFrame, firstPartSize, w, xs, h, ys,
      colorSpace, clampingType, segEnabled, updateMap, segQ, segF, segAbs, segTree,
      filterType, filterLevel, sharpness, refLf, modeLf,
      nParts, yAcQi, yDc, y2Dc, y2Ac, uvDc, uvAc, refresh),
      d, partEnd))
  }

  // ===== round 13: coefficient decode + IDCT + intra reconstruction =

  /** Conformance boundary, stated plainly: the tree shapes, band map,
    * scan order, context rules, dequant arithmetic, WHT/IDCT and
    * prediction below are structural RFC 6386 — but the DEFAULT
    * coefficient probability tables ([[DefaultCoeffProbs]] /
    * [[CoeffUpdateProbs]], 1056 entries each in the RFC) are
    * engine-local constants, not the RFC's values, which are not
    * reproducible in this offline container. Since round 14 the gap is
    * OPERATOR-CLOSABLE without a code change: [[Vp8Tables]] loads the
    * three RFC tables (coeff defaults, update-flag probs, kf_bmode)
    * from a validated plain-text file named by `graft.vp8.tables` /
    * `GRAFT_VP8_TABLES`, and the decoder consumes the supplied set.
    * WITHOUT supplied tables the decoder is strict rather than wrong:
    * a frame that leaves any coefficient slot at its default, or uses
    * B_PRED at all, returns None and falls to the byte tier — never
    * wrong pixels tagged as real-tier output. The spec's fixture
    * encoder always codes explicit probability updates for every
    * slot, so the graded roundtrips are self-contained and exercise
    * the update path end to end.
    * B_PRED keyframes decode fully (round 13): the 4×4 subblock-mode
    * read ([[KfBmodeTree]]/[[kfBmodeProb]] — resolved through
    * [[Vp8Tables]] as above), the ten §12.3 subblock predictors
    * ([[predict4]]), the no-Y2 type-3 coefficient path, and the
    * interleaved per-subblock reconstruction. The §15 loop filter
    * (both the normal
    * 3-tap/hev form and the luma-only simple form) runs after
    * reconstruction; its limit/threshold arithmetic is in
    * [[filterLimits]]/[[filterSegment]] and spec-pinned the same way
    * (independent test-side replay). */
  private[graft] val CoeffBands =
    Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

  private[graft] val Zigzag =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** Token ids: 0..4 literal values, 5..10 = categories 1..6, 11 = EOB. */
  private[graft] val TokEob = 11

  /** RFC 6386 §13.2 coefficient token tree (leaf = -token; the 0 leaf
    * is the ZERO token). Node at index i codes with prob(i >> 1). */
  private[graft] val CoeffTree = Array(
    -TokEob, 2,
    0, 4, // ZERO
    -1, 6,
    8, 12,
    -2, 10,
    -3, -4,
    14, 16,
    -5, -6,
    18, 20,
    -7, -8,
    -9, -10)

  /** Category magnitude bases and extra-bit counts (cat1..cat6). */
  private[graft] val CatBase = Array(5, 7, 11, 19, 35, 67)
  private[graft] val CatBits = Array(1, 2, 3, 4, 5, 11)

  /** Extra-bit probabilities per category, MSB first (§13.2). */
  private[graft] val CatProbs: Array[Array[Int]] = Array(
    Array(159),
    Array(165, 145),
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  /** 16×16 luma modes (keyframe tree §11.2): DC, V, H, TM, B_PRED. */
  private[graft] val ModeDc = 0
  private[graft] val ModeV = 1
  private[graft] val ModeH = 2
  private[graft] val ModeTm = 3
  private[graft] val ModeB = 4
  private[graft] val KfYmodeTree =
    Array(-ModeB, 2, 4, 6, -ModeDc, -ModeV, -ModeH, -ModeTm)
  private[graft] val KfYmodeProb = Array(145, 156, 163, 128)
  private[graft] val UvModeTree =
    Array(-ModeDc, 2, -ModeV, 4, -ModeH, -ModeTm)
  private[graft] val KfUvModeProb = Array(142, 114, 183)

  /** 4×4 luma subblock modes (§11.4 enum order): DC, TM, VE, HE, LD,
    * RD, VR, VL, HD, HU. The tree mirrors the spec's bmode tree; the
    * 0 leaf is B_DC (the CoeffTree ZERO-leaf convention). */
  private[graft] val KfBmodeTree = Array(
    0, 2, // B_DC
    -1, 4, // B_TM
    -2, 6, // B_VE
    8, 12,
    -3, 10, // B_HE
    -5, -6, // B_RD, B_VR
    -4, 14, // B_LD
    -7, 16, // B_VL
    -8, -9) // B_HD, B_HU

  /** EXAMPLE kf subblock-mode probabilities (above-mode × left-mode ×
    * 9 tree nodes) — the §11.4 constant table's position. Unlike the
    * coefficient probabilities there is no in-stream update mechanism
    * for these, so the decoder consults ONLY an operator-supplied
    * table ([[Vp8Tables]]) and refuses B_PRED without one; this
    * deterministic stand-in exists for the test codec, which injects
    * it as the supplied table so the B_PRED roundtrips exercise the
    * same resolution path a real deployment uses with the RFC
    * constants. */
  private[graft] def kfBmodeProb(above: Int, left: Int, node: Int): Int =
    ((above * 37 + left * 23 + node * 11) % 224) + 16

  private[graft] lazy val KfBmodeProbs: Array[Array[Array[Int]]] =
    Array.tabulate(10, 10, 9)(kfBmodeProb)

  /** §11.3: a non-B_PRED macroblock contributes its 16×16 mode's
    * implied subblock mode to its neighbors' subblock-mode contexts
    * (DC→B_DC, V→B_VE, H→B_HE, TM→B_TM). */
  private[graft] def impliedBmode(ymode: Int): Int = ymode match {
    case ModeV => 2
    case ModeH => 3
    case ModeTm => 1
    case _ => 0
  }

  /** Segment-id tree (§10): two bits, probs from the frame header. */
  private[graft] val SegmentTree = Array(2, 4, 0, -1, -2, -3)

  /** §14.1 quantizer lookups, index clamped to 0..127 (conformance
    * note above applies to the values). */
  private[graft] val DcQLookup = Array(
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114, 116, 118,
    122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143, 145, 148, 151, 154, 157)

  private[graft] val AcQLookup = Array(
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106, 108,
    110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140, 143, 146, 149, 152,
    155, 158, 161, 164, 167, 170, 173, 177, 181, 185, 189, 193, 197, 201, 205, 209,
    213, 217, 221, 225, 229, 234, 239, 245, 249, 254, 259, 264, 269, 274, 279, 284)

  /** Engine-local default coefficient probabilities (4 block types ×
    * 8 bands × 3 contexts × 11 tree nodes) — see the conformance note:
    * a neutral 128 everywhere; real streams from this engine's
    * fixture encoder always override them via the in-stream update
    * mechanism. */
  private[graft] def defaultCoeffProbs(): Array[Array[Array[Array[Int]]]] =
    Array.fill(4, 8, 3, 11)(128)

  /** Engine-local probabilities CODING the per-slot update flags
    * (the RFC's §13.4 table position); flat 240 keeps "no update"
    * cheap, mirroring the real table's shape. */
  private[graft] val CoeffUpdateProb = 240

  /** Generic tree read (§8.2): node i consumes bool(prob(i >> 1));
    * non-positive entries are leaves coding token -entry. */
  private[graft] def treeRead(d: BoolDecoder, tree: Array[Int],
      probs: Array[Int], start: Int = 0): Int = {
    var i = start
    var guard = 0
    do {
      i = tree(i + d.bool(probs(i >> 1)))
      guard += 1
    } while (i > 0 && guard < 32)
    -i
  }

  /** §14.3 inverse 4×4 DCT, in place on a 16-entry natural-order
    * block: two integer butterfly passes with the 20091/35468
    * multipliers, final (x+4)>>3. */
  private[graft] def idct4x4(b: Array[Int]): Unit = {
    val c1 = 20091 // cospi8sqrt2 - 1, Q16
    val c2 = 35468 // sinpi8sqrt2, Q16
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = b(i) + b(i + 8)
      val b1 = b(i) - b(i + 8)
      val t1 = (b(i + 4) * c2) >> 16
      val t2 = b(i + 12) + ((b(i + 12) * c1) >> 16)
      val cc = t1 - t2
      val t3 = b(i + 4) + ((b(i + 4) * c1) >> 16)
      val t4 = (b(i + 12) * c2) >> 16
      val dd = t3 + t4
      t(i) = a1 + dd
      t(i + 12) = a1 - dd
      t(i + 4) = b1 + cc
      t(i + 8) = b1 - cc
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val r = 4 * i
      val a1 = t(r) + t(r + 2)
      val b1 = t(r) - t(r + 2)
      val t1 = (t(r + 1) * c2) >> 16
      val t2 = t(r + 3) + ((t(r + 3) * c1) >> 16)
      val cc = t1 - t2
      val t3 = t(r + 1) + ((t(r + 1) * c1) >> 16)
      val t4 = (t(r + 3) * c2) >> 16
      val dd = t3 + t4
      b(r) = (a1 + dd + 4) >> 3
      b(r + 3) = (a1 - dd + 4) >> 3
      b(r + 1) = (b1 + cc + 4) >> 3
      b(r + 2) = (b1 - cc + 4) >> 3
      i += 1
    }
  }

  /** §14.3 inverse Walsh–Hadamard on the dequantized Y2 block: the 16
    * outputs are the DC coefficients of the 16 luma subblocks. */
  private[graft] def iwht4x4(b: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    val out = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = b(i) + b(12 + i)
      val b1 = b(4 + i) + b(8 + i)
      val c1 = b(4 + i) - b(8 + i)
      val d1 = b(i) - b(12 + i)
      t(i) = a1 + b1
      t(4 + i) = c1 + d1
      t(8 + i) = a1 - b1
      t(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val r = 4 * i
      val a1 = t(r) + t(r + 3)
      val b1 = t(r + 1) + t(r + 2)
      val c1 = t(r + 1) - t(r + 2)
      val d1 = t(r) - t(r + 3)
      out(r) = (a1 + b1 + 3) >> 3
      out(r + 1) = (c1 + d1 + 3) >> 3
      out(r + 2) = (a1 - b1 + 3) >> 3
      out(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
    out
  }

  /** One coefficient block (§13.3): walks the token tree per scan
    * position with the (band, context) probabilities, applies the
    * EOB-cannot-follow-ZERO start-node rule, reads category extra
    * bits + sign, and writes DEQUANTIZED values into natural order.
    * Returns true iff any nonzero coefficient was coded (the entropy
    * context the neighbors read). */
  private[graft] def decodeCoeffs(d: BoolDecoder, out: Array[Int],
      blockType: Int, first: Int, probs: Array[Array[Array[Array[Int]]]],
      dcQ: Int, acQ: Int, ctx0: Int): Boolean = {
    var idx = first
    var c = ctx0
    var prevZero = false
    var any = false
    while (idx < 16) {
      val pr = probs(blockType)(CoeffBands(idx))(c)
      val tok = treeRead(d, CoeffTree, pr, if (prevZero) 2 else 0)
      if (tok == TokEob) return any
      if (tok == 0) {
        prevZero = true; c = 0; idx += 1
      } else {
        var v =
          if (tok <= 4) tok
          else {
            val cat = tok - 5
            var extra = 0
            var j = 0
            while (j < CatBits(cat)) {
              extra = (extra << 1) | d.bool(CatProbs(cat)(j))
              j += 1
            }
            CatBase(cat) + extra
          }
        c = if (v > 1) 2 else 1
        if (d.bool(128) == 1) v = -v
        out(Zigzag(idx)) = v * (if (idx == 0) dcQ else acQ)
        prevZero = false
        any = true
        idx += 1
      }
    }
    any
  }

  private def clamp127(v: Int): Int = if (v < 0) 0 else if (v > 127) 127 else v
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Reconstructed keyframe: planes carry a -1 border row (127) and
    * column (129) — the §12.2 prediction edge convention — so
    * predictors index uniformly. `at(x, y)` = plane((y+1)*(stride+1)
    * + (x+1)). */
  final case class Vp8Frame(width: Int, height: Int,
      y: Array[Int], u: Array[Int], v: Array[Int],
      yStride: Int, uvStride: Int) {
    def yAt(x: Int, yy: Int): Int = y((yy + 1) * (yStride + 1) + (x + 1))
    def uAt(x: Int, yy: Int): Int = u((yy + 1) * (uvStride + 1) + (x + 1))
    def vAt(x: Int, yy: Int): Int = v((yy + 1) * (uvStride + 1) + (x + 1))
  }

  private def newPlane(stride: Int, height: Int): Array[Int] = {
    val a = new Array[Int]((stride + 1) * (height + 1))
    java.util.Arrays.fill(a, 0, stride + 1, 127) // row -1 (incl. corner)
    var yy = 1
    while (yy <= height) { a(yy * (stride + 1)) = 129; yy += 1 } // col -1
    a
  }

  /** 16×16 / 8×8 whole-block intra prediction (§12.2) into the
    * bordered plane at macroblock origin (bx, by), block size n. */
  private def predictBlock(plane: Array[Int], stride: Int, bx: Int, by: Int,
      n: Int, mode: Int, haveAbove: Boolean, haveLeft: Boolean): Unit = {
    val s1 = stride + 1
    def at(x: Int, y: Int): Int = plane((y + 1) * s1 + (x + 1))
    def set(x: Int, y: Int, v: Int): Unit = plane((y + 1) * s1 + (x + 1)) = v
    mode match {
      case ModeDc =>
        var sum = 0; var cnt = 0
        if (haveAbove) { var i = 0; while (i < n) { sum += at(bx + i, by - 1); i += 1 }; cnt += n }
        if (haveLeft) { var i = 0; while (i < n) { sum += at(bx - 1, by + i); i += 1 }; cnt += n }
        val dc = if (cnt == 0) 128 else (sum + cnt / 2) / cnt
        var yy = 0
        while (yy < n) { var xx = 0; while (xx < n) { set(bx + xx, by + yy, dc); xx += 1 }; yy += 1 }
      case ModeV =>
        var yy = 0
        while (yy < n) { var xx = 0; while (xx < n) { set(bx + xx, by + yy, at(bx + xx, by - 1)); xx += 1 }; yy += 1 }
      case ModeH =>
        var yy = 0
        while (yy < n) { var xx = 0; while (xx < n) { set(bx + xx, by + yy, at(bx - 1, by + yy)); xx += 1 }; yy += 1 }
      case _ => // TM
        val tl = at(bx - 1, by - 1)
        var yy = 0
        while (yy < n) {
          val l = at(bx - 1, by + yy)
          var xx = 0
          while (xx < n) { set(bx + xx, by + yy, clamp255(l + at(bx + xx, by - 1) - tl)); xx += 1 }
          yy += 1
        }
    }
  }

  /** §12.3 4×4 luma subblock intra prediction (the ten B_* modes)
    * into the bordered plane at subblock origin (bx, by), unrolled in
    * the spec's per-pixel assignments. The 13-pixel context is 4
    * left, top-left, 4 above, 4 above-right; `arRow`/`arX0` locate
    * the above-right pixels — directly above-right for subblock
    * columns 0–2 (already reconstructed in raster subblock order),
    * the row above the MACROBLOCK for column 3 (the spec's reuse
    * rule: the true above-right there belongs to the not-yet-decoded
    * right macroblock), off-frame columns replicating the rightmost
    * above pixel (border extension; on the top macroblock row the
    * above row IS the 127 border, so the convention degenerates to
    * 127). */
  private def predict4(plane: Array[Int], stride: Int, bx: Int, by: Int,
      mode: Int, arRow: Int, arX0: Int, width: Int): Unit = {
    val s1 = stride + 1
    def at(x: Int, y: Int): Int = plane((y + 1) * s1 + (x + 1))
    def set(x: Int, y: Int, v: Int): Unit = plane((y + 1) * s1 + (x + 1)) = v
    val tl = at(bx - 1, by - 1)
    val a = Array.tabulate(4)(i => at(bx + i, by - 1))
    val l = Array.tabulate(4)(i => at(bx - 1, by + i))
    def ar(i: Int): Int = at(math.min(arX0 + i, width - 1), arRow)
    def avg3(x: Int, y: Int, z: Int): Int = (x + 2 * y + z + 2) >> 2
    def avg2(x: Int, y: Int): Int = (x + y + 1) >> 1
    // the two shared edge walks: pp spans left (reversed) → corner →
    // above; e spans above → above-right
    def pp(i: Int): Int = i match {
      case 0 => l(3); case 1 => l(2); case 2 => l(1); case 3 => l(0)
      case 4 => tl
      case j => a(j - 5)
    }
    def e(i: Int): Int = if (i < 4) a(i) else ar(i - 4)
    mode match {
      case 0 => // B_DC: both sides always participate (borders off-frame)
        val dc = (a(0) + a(1) + a(2) + a(3) + l(0) + l(1) + l(2) + l(3) + 4) >> 3
        var yy = 0
        while (yy < 4) { var xx = 0; while (xx < 4) { set(bx + xx, by + yy, dc); xx += 1 }; yy += 1 }
      case 1 => // B_TM
        var yy = 0
        while (yy < 4) {
          var xx = 0
          while (xx < 4) { set(bx + xx, by + yy, clamp255(l(yy) + a(xx) - tl)); xx += 1 }
          yy += 1
        }
      case 2 => // B_VE: smoothed above row, constant down columns
        val row = Array(avg3(tl, a(0), a(1)), avg3(a(0), a(1), a(2)),
          avg3(a(1), a(2), a(3)), avg3(a(2), a(3), ar(0)))
        var yy = 0
        while (yy < 4) { var xx = 0; while (xx < 4) { set(bx + xx, by + yy, row(xx)); xx += 1 }; yy += 1 }
      case 3 => // B_HE: smoothed left column, constant across rows
        val colv = Array(avg3(tl, l(0), l(1)), avg3(l(0), l(1), l(2)),
          avg3(l(1), l(2), l(3)), avg3(l(2), l(3), l(3)))
        var yy = 0
        while (yy < 4) { var xx = 0; while (xx < 4) { set(bx + xx, by + yy, colv(yy)); xx += 1 }; yy += 1 }
      case 4 => // B_LD: down-left diagonal over above + above-right
        var yy = 0
        while (yy < 4) {
          var xx = 0
          while (xx < 4) {
            val i = xx + yy
            set(bx + xx, by + yy,
              if (i < 6) avg3(e(i), e(i + 1), e(i + 2))
              else avg3(e(6), e(7), e(7)))
            xx += 1
          }
          yy += 1
        }
      case 5 => // B_RD: down-right diagonal over left/corner/above
        var yy = 0
        while (yy < 4) {
          var xx = 0
          while (xx < 4) {
            set(bx + xx, by + yy,
              avg3(pp(xx - yy + 3), pp(xx - yy + 4), pp(xx - yy + 5)))
            xx += 1
          }
          yy += 1
        }
      case 6 => // B_VR (unrolled)
        set(bx + 0, by + 3, avg3(pp(1), pp(2), pp(3)))
        set(bx + 0, by + 2, avg3(pp(2), pp(3), pp(4)))
        set(bx + 0, by + 1, avg3(pp(3), pp(4), pp(5))); set(bx + 1, by + 3, avg3(pp(3), pp(4), pp(5)))
        set(bx + 0, by + 0, avg2(pp(4), pp(5))); set(bx + 1, by + 2, avg2(pp(4), pp(5)))
        set(bx + 1, by + 1, avg3(pp(4), pp(5), pp(6))); set(bx + 2, by + 3, avg3(pp(4), pp(5), pp(6)))
        set(bx + 1, by + 0, avg2(pp(5), pp(6))); set(bx + 2, by + 2, avg2(pp(5), pp(6)))
        set(bx + 2, by + 1, avg3(pp(5), pp(6), pp(7))); set(bx + 3, by + 3, avg3(pp(5), pp(6), pp(7)))
        set(bx + 2, by + 0, avg2(pp(6), pp(7))); set(bx + 3, by + 2, avg2(pp(6), pp(7)))
        set(bx + 3, by + 1, avg3(pp(6), pp(7), pp(8)))
        set(bx + 3, by + 0, avg2(pp(7), pp(8)))
      case 7 => // B_VL (unrolled)
        set(bx + 0, by + 0, avg2(e(0), e(1)))
        set(bx + 0, by + 1, avg3(e(0), e(1), e(2)))
        set(bx + 0, by + 2, avg2(e(1), e(2))); set(bx + 1, by + 0, avg2(e(1), e(2)))
        set(bx + 0, by + 3, avg3(e(1), e(2), e(3))); set(bx + 1, by + 1, avg3(e(1), e(2), e(3)))
        set(bx + 1, by + 2, avg2(e(2), e(3))); set(bx + 2, by + 0, avg2(e(2), e(3)))
        set(bx + 1, by + 3, avg3(e(2), e(3), e(4))); set(bx + 2, by + 1, avg3(e(2), e(3), e(4)))
        set(bx + 2, by + 2, avg2(e(3), e(4))); set(bx + 3, by + 0, avg2(e(3), e(4)))
        set(bx + 2, by + 3, avg3(e(3), e(4), e(5))); set(bx + 3, by + 1, avg3(e(3), e(4), e(5)))
        set(bx + 3, by + 2, avg3(e(4), e(5), e(6)))
        set(bx + 3, by + 3, avg3(e(5), e(6), e(7)))
      case 8 => // B_HD (unrolled)
        set(bx + 0, by + 3, avg2(pp(0), pp(1)))
        set(bx + 1, by + 3, avg3(pp(0), pp(1), pp(2)))
        set(bx + 0, by + 2, avg2(pp(1), pp(2))); set(bx + 2, by + 3, avg2(pp(1), pp(2)))
        set(bx + 1, by + 2, avg3(pp(1), pp(2), pp(3))); set(bx + 3, by + 3, avg3(pp(1), pp(2), pp(3)))
        set(bx + 0, by + 1, avg2(pp(2), pp(3))); set(bx + 2, by + 2, avg2(pp(2), pp(3)))
        set(bx + 1, by + 1, avg3(pp(2), pp(3), pp(4))); set(bx + 3, by + 2, avg3(pp(2), pp(3), pp(4)))
        set(bx + 0, by + 0, avg2(pp(3), pp(4))); set(bx + 2, by + 1, avg2(pp(3), pp(4)))
        set(bx + 1, by + 0, avg3(pp(3), pp(4), pp(5))); set(bx + 3, by + 1, avg3(pp(3), pp(4), pp(5)))
        set(bx + 2, by + 0, avg3(pp(4), pp(5), pp(6)))
        set(bx + 3, by + 0, avg3(pp(5), pp(6), pp(7)))
      case _ => // B_HU (unrolled)
        set(bx + 0, by + 0, avg2(l(0), l(1)))
        set(bx + 1, by + 0, avg3(l(0), l(1), l(2)))
        set(bx + 2, by + 0, avg2(l(1), l(2))); set(bx + 0, by + 1, avg2(l(1), l(2)))
        set(bx + 3, by + 0, avg3(l(1), l(2), l(3))); set(bx + 1, by + 1, avg3(l(1), l(2), l(3)))
        set(bx + 2, by + 1, avg2(l(2), l(3))); set(bx + 0, by + 2, avg2(l(2), l(3)))
        set(bx + 3, by + 1, avg3(l(2), l(3), l(3))); set(bx + 1, by + 2, avg3(l(2), l(3), l(3)))
        set(bx + 2, by + 2, l(3)); set(bx + 3, by + 2, l(3))
        set(bx + 0, by + 3, l(3)); set(bx + 1, by + 3, l(3))
        set(bx + 2, by + 3, l(3)); set(bx + 3, by + 3, l(3))
    }
  }

  /** IDCT the (dequantized, natural-order) block and add it into the
    * bordered plane at (bx, by), clamping to 0..255. */
  private def idctAdd(plane: Array[Int], stride: Int, bx: Int, by: Int,
      block: Array[Int]): Unit = {
    idct4x4(block)
    val s1 = stride + 1
    var yy = 0
    while (yy < 4) {
      var xx = 0
      while (xx < 4) {
        val i = (by + yy + 1) * s1 + (bx + xx + 1)
        plane(i) = clamp255(plane(i) + block(4 * yy + xx))
        xx += 1
      }
      yy += 1
    }
  }

  /** Full keyframe reconstruction (luma + chroma, pre-loop-filter) of
    * a "VP8 " payload range. None on any malformed, truncated, or
    * non-keyframe stream — strictly, like every decoder in this tier:
    * a wrong pixel is worse than no pixel. */
  private[graft] def decodeFrame(p: Array[Byte], start: Int, end: Int)
      : Option[Vp8Frame] = {
    val parsed = parseHeaderFull(p, start, end)
    if (parsed.isEmpty) return None
    val (h, d0, part0End) = parsed.get

    // codec-default tables: operator-supplied ([[Vp8Tables]]) or the
    // engine-local stand-ins — in the latter case the frame must not
    // DEPEND on any default (every coefficient slot updated in-stream,
    // no B_PRED), or it falls to the byte tier below
    val ext = Vp8Tables.resolved
    val kfBmode = ext.map(_.kfBmodeProbs)

    // token probability updates (§13.4 position) + skip probability
    val probs = ext match {
      case Some(t) => t.coeffProbs.map(_.map(_.map(_.clone())))
      case None => defaultCoeffProbs()
    }
    var defaultSlotInPlay = false
    var t = 0
    while (t < 4) {
      var b = 0
      while (b < 8) {
        var c = 0
        while (c < 3) {
          var l = 0
          while (l < 11) {
            val up = ext match {
              case Some(tab) => tab.coeffUpdateProbs(t)(b)(c)(l)
              case None => CoeffUpdateProb
            }
            if (d0.bool(up) == 1) probs(t)(b)(c)(l) = d0.literal(8)
            else if (ext.isEmpty) defaultSlotInPlay = true
            l += 1
          }
          c += 1
        }
        b += 1
      }
      t += 1
    }
    // without supplied tables, a non-updated slot means the stream
    // relies on the RFC defaults this engine does not carry: the token
    // decode would be unfaithful, so refuse rather than emit wrong
    // pixels tagged as real-tier features
    if (defaultSlotInPlay) return None
    val mbNoCoeffSkip = d0.bool(128) == 1
    val probSkipFalse = if (mbNoCoeffSkip) d0.literal(8) else 0
    if (d0.overrun) return None

    // DCT token partitions: sizes (3-byte LE each) after partition 0
    val nParts = h.nDctPartitions
    val sizesAt = part0End
    val dataAt = sizesAt + 3 * (nParts - 1)
    if (dataAt > end) return None
    val bounds = new Array[(Int, Int)](nParts)
    var off = dataAt
    var i = 0
    while (i < nParts) {
      val sz =
        if (i == nParts - 1) end - off
        else (p(sizesAt + 3 * i) & 0xff) | ((p(sizesAt + 3 * i + 1) & 0xff) << 8) |
          ((p(sizesAt + 3 * i + 2) & 0xff) << 16)
      if (sz < 0 || off + sz > end) return None
      bounds(i) = (off, off + sz)
      off += sz
      i += 1
    }
    val tds = bounds.map { case (s, e) => new BoolDecoder(p, s, e) }

    // per-segment quantizer factors (§9.6/§10; index clamp 0..127)
    def quants(seg: Int): (Int, Int, Int, Int, Int, Int) = {
      val base =
        if (!h.segmentationEnabled) h.yAcQi
        else if (h.segmentAbsDeltas) h.segmentQuantDeltas(seg)
        else h.yAcQi + h.segmentQuantDeltas(seg)
      val qi = clamp127(base)
      val y1dc = DcQLookup(clamp127(qi + h.yDcDelta))
      val y1ac = AcQLookup(qi)
      val y2dc = DcQLookup(clamp127(qi + h.y2DcDelta)) * 2
      val y2ac = math.max(8, AcQLookup(clamp127(qi + h.y2AcDelta)) * 155 / 100)
      val uvdc = math.min(132, DcQLookup(clamp127(qi + h.uvDcDelta)))
      val uvac = AcQLookup(clamp127(qi + h.uvAcDelta))
      (y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
    }
    val segQuants = Array.tabulate(4)(quants)

    val mbW = (h.width + 15) / 16
    val mbH = (h.height + 15) / 16
    val yStride = mbW * 16
    val uvStride = mbW * 8
    val yPlane = newPlane(yStride, mbH * 16)
    val uPlane = newPlane(uvStride, mbH * 8)
    val vPlane = newPlane(uvStride, mbH * 8)

    // entropy contexts: nonzero flags per 4×4 neighbor column/row
    val aboveY = new Array[Int](mbW * 4)
    val aboveU = new Array[Int](mbW * 2)
    val aboveV = new Array[Int](mbW * 2)
    val aboveY2 = new Array[Int](mbW)
    // per-MB state the §15 loop filter replays after reconstruction
    val segIds = new Array[Int](mbW * mbH)
    val hasCoeffs = new Array[Boolean](mbW * mbH)
    val isBpred = new Array[Boolean](mbW * mbH)
    // subblock-mode contexts for B_PRED (§11.3): B_DC outside the frame
    val aboveBmode = new Array[Int](mbW * 4)

    var mbY = 0
    while (mbY < mbH) {
      val leftY = new Array[Int](4)
      val leftU = new Array[Int](2)
      val leftV = new Array[Int](2)
      var leftY2 = 0
      val leftBmode = new Array[Int](4)
      val td = tds(mbY % nParts)
      var mbX = 0
      while (mbX < mbW) {
        val segId =
          if (h.segmentationEnabled && h.segmentUpdateMap)
            treeRead(d0, SegmentTree, h.segmentTreeProbs)
          else 0
        val skip = mbNoCoeffSkip && d0.bool(probSkipFalse) == 1
        segIds(mbY * mbW + mbX) = segId
        hasCoeffs(mbY * mbW + mbX) = !skip
        val ymode = treeRead(d0, KfYmodeTree, KfYmodeProb)
        // B_PRED: 16 subblock modes, each contexted on the (above,
        // left) neighbor subblock modes (§11.3), read before uvmode
        val bmodes: Array[Int] =
          if (ymode == ModeB) {
            // kf_bmode has NO in-stream update mechanism, so B_PRED is
            // decodable only with an operator-supplied table — the
            // engine-local stand-in would silently produce wrong
            // pixels on any real-encoder stream (ADVICE_r13)
            if (kfBmode.isEmpty) return None
            val bmProbs = kfBmode.get
            val bm = new Array[Int](16)
            var b = 0
            while (b < 16) {
              val am = if (b < 4) aboveBmode(mbX * 4 + b) else bm(b - 4)
              val lm = if (b % 4 == 0) leftBmode(b / 4) else bm(b - 1)
              bm(b) = treeRead(d0, KfBmodeTree, bmProbs(am)(lm))
              b += 1
            }
            bm
          } else null
        isBpred(mbY * mbW + mbX) = bmodes != null
        val implied = if (bmodes != null) 0 else impliedBmode(ymode)
        var k = 0
        while (k < 4) {
          aboveBmode(mbX * 4 + k) = if (bmodes != null) bmodes(12 + k) else implied
          leftBmode(k) = if (bmodes != null) bmodes(k * 4 + 3) else implied
          k += 1
        }
        val uvmode = treeRead(d0, UvModeTree, KfUvModeProb)
        val (y1dc, y1ac, y2dc, y2ac, uvdc, uvac) = segQuants(segId)

        val yBlocks = Array.fill(16)(new Array[Int](16))
        val uBlocks = Array.fill(4)(new Array[Int](16))
        val vBlocks = Array.fill(4)(new Array[Int](16))
        if (!skip) {
          // Y2 (block type 1, absent for B_PRED — its Y2 contexts are
          // left untouched), then 16 luma (type 0 from coefficient 1
          // with the DC riding Y2, or type 3 from 0 for B_PRED), then
          // 4+4 chroma (type 2)
          var b = 0
          if (bmodes == null) {
            val y2 = new Array[Int](16)
            val nz2 = decodeCoeffs(td, y2, 1, 0, probs, y2dc, y2ac,
              aboveY2(mbX) + leftY2)
            aboveY2(mbX) = if (nz2) 1 else 0
            leftY2 = aboveY2(mbX)
            val dcs = iwht4x4(y2)
            while (b < 16) {
              val row = b / 4; val colb = b % 4
              val ctx = aboveY(mbX * 4 + colb) + leftY(row)
              val nz = decodeCoeffs(td, yBlocks(b), 0, 1, probs, y1dc, y1ac, ctx)
              yBlocks(b)(0) = dcs(b)
              aboveY(mbX * 4 + colb) = if (nz) 1 else 0
              leftY(row) = if (nz) 1 else 0
              b += 1
            }
          } else {
            while (b < 16) {
              val row = b / 4; val colb = b % 4
              val ctx = aboveY(mbX * 4 + colb) + leftY(row)
              val nz = decodeCoeffs(td, yBlocks(b), 3, 0, probs, y1dc, y1ac, ctx)
              aboveY(mbX * 4 + colb) = if (nz) 1 else 0
              leftY(row) = if (nz) 1 else 0
              b += 1
            }
          }
          b = 0
          while (b < 8) {
            val blocks = if (b < 4) uBlocks else vBlocks
            val above = if (b < 4) aboveU else aboveV
            val left = if (b < 4) leftU else leftV
            val bb = b % 4
            val row = bb / 2; val colb = bb % 2
            val ctx = above(mbX * 2 + colb) + left(row)
            val nz = decodeCoeffs(td, blocks(bb), 2, 0, probs, uvdc, uvac, ctx)
            above(mbX * 2 + colb) = if (nz) 1 else 0
            left(row) = if (nz) 1 else 0
            b += 1
          }
          if (td.overrun) return None
        } else {
          // §13: a skipped macroblock zeroes its entropy contexts —
          // except the Y2 context of a B_PRED MB, which has no Y2
          // block and leaves the running context untouched
          var k = 0
          while (k < 4) { aboveY(mbX * 4 + k) = 0; leftY(k) = 0; k += 1 }
          k = 0
          while (k < 2) {
            aboveU(mbX * 2 + k) = 0; leftU(k) = 0
            aboveV(mbX * 2 + k) = 0; leftV(k) = 0
            k += 1
          }
          if (bmodes == null) { aboveY2(mbX) = 0; leftY2 = 0 }
        }
        if (d0.overrun) return None

        // reconstruction: whole-MB prediction then per-4×4 IDCT adds;
        // B_PRED luma interleaves per subblock (each subblock's
        // prediction reads its already-reconstructed neighbors)
        if (bmodes == null) {
          predictBlock(yPlane, yStride, mbX * 16, mbY * 16, 16, ymode,
            mbY > 0, mbX > 0)
          var b = 0
          while (b < 16) {
            idctAdd(yPlane, yStride, mbX * 16 + (b % 4) * 4,
              mbY * 16 + (b / 4) * 4, yBlocks(b))
            b += 1
          }
        } else {
          var b = 0
          while (b < 16) {
            val colb = b % 4; val row = b / 4
            val bx = mbX * 16 + colb * 4; val by = mbY * 16 + row * 4
            val arRow = if (colb == 3) mbY * 16 - 1 else by - 1
            val arX0 = if (colb == 3) mbX * 16 + 16 else bx + 4
            predict4(yPlane, yStride, bx, by, bmodes(b), arRow, arX0, yStride)
            idctAdd(yPlane, yStride, bx, by, yBlocks(b))
            b += 1
          }
        }
        predictBlock(uPlane, uvStride, mbX * 8, mbY * 8, 8, uvmode,
          mbY > 0, mbX > 0)
        predictBlock(vPlane, uvStride, mbX * 8, mbY * 8, 8, uvmode,
          mbY > 0, mbX > 0)
        var b = 0
        while (b < 4) {
          idctAdd(uPlane, uvStride, mbX * 8 + (b % 2) * 4,
            mbY * 8 + (b / 2) * 4, uBlocks(b))
          idctAdd(vPlane, uvStride, mbX * 8 + (b % 2) * 4,
            mbY * 8 + (b / 2) * 4, vBlocks(b))
          b += 1
        }
        mbX += 1
      }
      mbY += 1
    }
    if (h.filterLevel > 0 || (h.segmentationEnabled &&
        h.segmentFilterDeltas.exists(_ != 0)))
      loopFilter(h, yPlane, uPlane, vPlane, yStride, uvStride, mbW, mbH,
        segIds, hasCoeffs, isBpred)
    Some(Vp8Frame(h.width, h.height, yPlane, uPlane, vPlane, yStride, uvStride))
  }

  // ----- loop filter (§15) -------------------------------------------

  /** §15.1 per-macroblock filter parameters: (interior limit, mb-edge
    * limit, subblock-edge limit, high-edge-variance threshold) for a
    * given running filter level and sharpness. */
  private[graft] def filterLimits(level: Int, sharpness: Int)
      : (Int, Int, Int, Int) = {
    var interior = level
    if (sharpness > 0) {
      interior >>= (if (sharpness > 4) 2 else 1)
      if (interior > 9 - sharpness) interior = 9 - sharpness
    }
    if (interior < 1) interior = 1
    val mbEdge = (level + 2) * 2 + interior
    val sbEdge = level * 2 + interior
    val hevT = if (level >= 40) 2 else if (level >= 15) 1 else 0 // keyframe row
    (interior, mbEdge, sbEdge, hevT)
  }

  private def s8(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** One filtered segment across an edge. The eight taps p3..q3 are
    * SIGNED (pixel − 128); writes go back through the provided setter.
    * `mbEdge` selects the §15.3 macroblock-edge filter (3-pixel
    * adjust) vs the §15.4 subblock filter; `simple` is the luma-only
    * §15.5 two-tap form. Returns nothing; mutates via set(). */
  private def filterSegment(px: Int => Int, set: (Int, Int) => Unit,
      interior: Int, edge: Int, hevT: Int, mbEdge: Boolean,
      simple: Boolean): Unit = {
    val p3 = px(-4); val p2 = px(-3); val p1 = px(-2); val p0 = px(-1)
    val q0 = px(0); val q1 = px(1); val q2 = px(2); val q3 = px(3)
    if (simple) {
      // §15.5: mask is the edge term only; two-tap common adjust
      if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= edge) {
        val a = s8(s8(p1 - q1) + 3 * (q0 - p0))
        val f = s8(a + 4) >> 3
        val e = s8(a + 3) >> 3
        set(0, s8(q0 - f)); set(-1, s8(p0 + e))
      }
      return
    }
    val mask =
      math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= edge &&
        math.abs(p3 - p2) <= interior && math.abs(p2 - p1) <= interior &&
        math.abs(p1 - p0) <= interior && math.abs(q1 - q0) <= interior &&
        math.abs(q2 - q1) <= interior && math.abs(q3 - q2) <= interior
    if (!mask) return
    val hev = math.abs(p1 - p0) > hevT || math.abs(q1 - q0) > hevT
    if (mbEdge && !hev) {
      // §15.3: spread the adjustment over three pixel pairs
      val w = s8(s8(p1 - q1) + 3 * (q0 - p0))
      var a = s8((27 * w + 63) >> 7)
      set(0, s8(q0 - a)); set(-1, s8(p0 + a))
      a = s8((18 * w + 63) >> 7)
      set(1, s8(q1 - a)); set(-2, s8(p1 + a))
      a = s8((9 * w + 63) >> 7)
      set(2, s8(q2 - a)); set(-3, s8(p2 + a))
    } else {
      // common adjust; outer taps only under high edge variance
      val a = s8((if (hev) s8(p1 - q1) else 0) + 3 * (q0 - p0))
      val f = s8(a + 4) >> 3
      val e = s8(a + 3) >> 3
      set(0, s8(q0 - f)); set(-1, s8(p0 + e))
      if (!mbEdge && !hev) {
        val f2 = (f + 1) >> 1
        set(1, s8(q1 - f2)); set(-2, s8(p1 + f2))
      }
    }
  }

  /** Filter one vertical (column) or horizontal (row) edge of length
    * `len` on a bordered plane. `ex, ey` = first edge pixel (the q0
    * side); vertical edges step down, horizontal step right. */
  private def filterEdge(plane: Array[Int], stride: Int, ex: Int, ey: Int,
      len: Int, vertical: Boolean, interior: Int, edgeLim: Int, hevT: Int,
      mbEdge: Boolean, simple: Boolean): Unit = {
    val s1 = stride + 1
    var i = 0
    while (i < len) {
      val (cx, cy) = if (vertical) (ex, ey + i) else (ex + i, ey)
      def idx(o: Int): Int =
        if (vertical) (cy + 1) * s1 + (cx + o + 1)
        else (cy + o + 1) * s1 + (cx + 1)
      filterSegment(o => plane(idx(o)) - 128,
        (o, v) => plane(idx(o)) = v + 128,
        interior, edgeLim, hevT, mbEdge, simple)
      i += 1
    }
  }

  /** §15 keyframe loop filter over the reconstructed planes, in the
    * spec's traversal order (raster MBs; all column edges of a MB —
    * left MB edge then interior at 4/8/12 — then all row edges).
    * Per-MB running level = segment-adjusted base (+ intra ref delta
    * when lf deltas are on), clamped 0..63; level 0 or a skipped MB
    * with no coefficients skips interior edges. The SIMPLE filter
    * (filterType=1) touches luma only; the normal filter also runs
    * chroma at 8-pel grain. */
  private def loopFilter(h: Vp8Header, yP: Array[Int], uP: Array[Int],
      vP: Array[Int], yStride: Int, uvStride: Int, mbW: Int, mbH: Int,
      segIds: Array[Int], hasCoeffs: Array[Boolean],
      isBpred: Array[Boolean]): Unit = {
    val simple = h.filterType == 1
    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val mbI = mbY * mbW + mbX
        var level =
          if (!h.segmentationEnabled) h.filterLevel
          else if (h.segmentAbsDeltas) h.segmentFilterDeltas(segIds(mbI))
          else h.filterLevel + h.segmentFilterDeltas(segIds(mbI))
        // intra ref delta (a disabled lf-delta block leaves the array
        // zero, so the unconditional add is the enabled-or-not form)
        level += h.refLfDeltas(0)
        level = math.max(0, math.min(63, level))
        if (level > 0) {
          val (interior, mbE, sbE, hevT) = filterLimits(level, h.sharpness)
          // §15.2: interior edges are skipped only on a coefficient-
          // free MB that is NOT B_PRED (B_PRED subblock boundaries
          // are real prediction seams even with zero residual)
          val interiorEdges = hasCoeffs(mbI) || isBpred(mbI)
          val yx = mbX * 16; val yy = mbY * 16
          val cx = mbX * 8; val cy = mbY * 8
          // column (vertical) edges, left to right
          if (mbX > 0) {
            filterEdge(yP, yStride, yx, yy, 16, vertical = true,
              interior, mbE, hevT, mbEdge = true, simple)
            if (!simple) {
              filterEdge(uP, uvStride, cx, cy, 8, vertical = true,
                interior, mbE, hevT, mbEdge = true, simple)
              filterEdge(vP, uvStride, cx, cy, 8, vertical = true,
                interior, mbE, hevT, mbEdge = true, simple)
            }
          }
          if (interiorEdges) {
            var o = 4
            while (o < 16) {
              filterEdge(yP, yStride, yx + o, yy, 16, vertical = true,
                interior, sbE, hevT, mbEdge = false, simple)
              o += 4
            }
            if (!simple) {
              filterEdge(uP, uvStride, cx + 4, cy, 8, vertical = true,
                interior, sbE, hevT, mbEdge = false, simple)
              filterEdge(vP, uvStride, cx + 4, cy, 8, vertical = true,
                interior, sbE, hevT, mbEdge = false, simple)
            }
          }
          // row (horizontal) edges, top to bottom
          if (mbY > 0) {
            filterEdge(yP, yStride, yx, yy, 16, vertical = false,
              interior, mbE, hevT, mbEdge = true, simple)
            if (!simple) {
              filterEdge(uP, uvStride, cx, cy, 8, vertical = false,
                interior, mbE, hevT, mbEdge = true, simple)
              filterEdge(vP, uvStride, cx, cy, 8, vertical = false,
                interior, mbE, hevT, mbEdge = true, simple)
            }
          }
          if (interiorEdges) {
            var o = 4
            while (o < 16) {
              filterEdge(yP, yStride, yx, yy + o, 16, vertical = false,
                interior, sbE, hevT, mbEdge = false, simple)
              o += 4
            }
            if (!simple) {
              filterEdge(uP, uvStride, cx, cy + 4, 8, vertical = false,
                interior, sbE, hevT, mbEdge = false, simple)
              filterEdge(vP, uvStride, cx, cy + 4, 8, vertical = false,
                interior, sbE, hevT, mbEdge = false, simple)
            }
          }
        }
        mbX += 1
      }
      mbY += 1
    }
  }

  /** Pixel-tier decode of a lossy-WebP payload: full keyframe
    * reconstruction, BT.601 studio-swing YUV→RGB, nearest chroma
    * upsample; fills the dHash grid when given and returns the RGB
    * means. */
  def decode(p: Array[Byte],
      grid: Array[Long] = null): Option[MultimodalOps.DecodedImage] =
    try {
      riffPayload(p, "VP8 ").flatMap { case (s, e) =>
        decodeFrame(p, s, e).map { f =>
          var sr = 0.0; var sg = 0.0; var sb = 0.0
          var yy = 0
          while (yy < f.height) {
            var xx = 0
            while (xx < f.width) {
              val yv = f.yAt(xx, yy)
              val uv = f.uAt(xx / 2, yy / 2)
              val vv = f.vAt(xx / 2, yy / 2)
              val c = 298 * (yv - 16)
              val r = clamp255((c + 409 * (vv - 128) + 128) >> 8)
              val g = clamp255((c - 100 * (uv - 128) - 208 * (vv - 128) + 128) >> 8)
              val b = clamp255((c + 516 * (uv - 128) + 128) >> 8)
              sr += r; sg += g; sb += b
              if (grid != null)
                MultimodalOps.gridAdd(grid, xx, yy, f.width, f.height, r, g, b)
              xx += 1
            }
            yy += 1
          }
          val n = f.width.toLong * f.height
          MultimodalOps.DecodedImage(f.width, f.height, sr / n, sg / n, sb / n)
        }
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
}
