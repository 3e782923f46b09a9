package graft.io

/** Intra-only H.264/AVC I-slice codec over a CONSTRAINED synthesized
  * stream (q228) — the close-out of the one remaining media gap
  * (q182's scaladoc: `avc1` tracks cannot be decoded JDK-only, so the
  * entropy layer has to be implemented, not delegated).
  *
  * What is REAL here (transcribed from the published ITU-T Rec. H.264
  * spec — Annex B byte streams, clauses 7/8/9 — not from any codec's
  * source):
  *   - Annex-B framing: start codes, nal_ref_idc/nal_unit_type, and
  *     emulation-prevention (0x03) insertion/stripping both ways;
  *   - Exp-Golomb ue(v)/se(v) read/write; RBSP trailing bits;
  *   - SPS/PPS/IDR-slice-header write AND parse (Baseline profile 66,
  *     frame_mbs_only, poc type 2, CAVLC entropy mode, deblocking
  *     disabled IN-STREAM via disable_deblocking_filter_idc=1 — the
  *     spec-sanctioned switch, so skipping the loop filter is a
  *     conformant decode, not an approximation);
  *   - the I_NxN macroblock layer: the full intra-4x4 pred-mode
  *     coding (prev_intra4x4_pred_mode_flag against the 8.3.1.1
  *     derivation predMode = min(left, top) with unavailable → DC,
  *     plus the 3-bit rem_intra4x4_pred_mode less-than shift),
  *     intra_chroma_pred_mode, coded_block_pattern me(v),
  *     mb_qp_delta;
  *   - CAVLC residual decoding: coeff_token (the nC<2 column of
  *     Table 9-5 in full), trailing-one signs, the complete level
  *     machinery (suffixLength evolution, prefix-14 and prefix-15
  *     escapes), total_zeros, with the per-block nC context carried
  *     across macroblocks exactly as 9.2.1 derives it;
  *   - dequantization (the LevelScale V table, QP/6 shift) and the
  *     exact-integer 4x4 inverse transform with (x+32)>>6 rounding;
  *   - intra 4x4 prediction in the Vertical, Horizontal, and DC
  *     modes (8.3.1.2.1/.2/.4) from RECONSTRUCTED neighbors in
  *     decode order (the full feedback loop — the encoder runs the
  *     identical reconstruction, spec-pinned as a fixpoint), and
  *     chroma DC prediction (8.3.4) for the 4:2:0 planes.
  *
  * The CONSTRAINT, stated precisely (the q81/q182 scoping
  * discipline): the paired encoder only emits streams whose residual
  * blocks are DC-ONLY — the graded fixture is a per-4x4-block
  * checkerboard, whose residual against any flat prediction is
  * constant per block, and the 4x4 forward transform of a constant
  * block is exactly one DC coefficient. It REQUIRE-fails on anything
  * else. Under that constraint every 4x4 block carries TotalCoeff
  * <= 1, so the CAVLC context nC = (nA+nB+1)>>1 never reaches 2, and
  * cbp is always 15 (luma fully coded, flat-128 chroma residual
  * exactly zero). Consequences the decoder enforces as EXPLICIT
  * unsupported-errors rather than silent wrong answers: the nC>=2
  * coeff_token columns, total_zeros rows past TotalCoeff 1,
  * run_before, chroma-residual parsing, the diagonal intra-mode
  * family (3..8), and me(v) codes past the four shortest are out of
  * the constrained profile. Everything the constrained stream CAN
  * produce — any level magnitude (both level escapes fire on the
  * graded fixture), the V/H/DC mode rotation with real flag/rem
  * coding (flat predictions of flat blocks keep residuals
  * constant, so V/H preserve the DC-only invariant), any dimension,
  * any QP 0..51 with its qbits/MF/V row — decodes through the
  * general machinery.
  *
  * Scale design (100 TB): the codec is row-local bytes-in/planes-out
  * (the q68/q182 economics — one document's stream never crosses an
  * exchange); the graded operator maps it over the corpus with the
  * corpus collapsed to per-doc stats before any shuffle.
  *
  * AC-RESIDUAL EXTENSION (round 15, q289): the profile is lifted
  * from DC-only to general zig-zag residuals — trailing-one signs,
  * the full level machinery with suffixLength evolution
  * (9.2.2.1/9.3.2.3, level_prefix ≤ 15), total_zeros, and the
  * complete run_before table (all zerosLeft columns incl. the >6
  * unary tail). Tables are pinned by the structural properties the
  * spec guarantees (prefix-freeness everywhere; Kraft-COMPLETENESS
  * of each complete total_zeros / run_before column — a single
  * wrong code length breaks the Kraft sum, see H264IntraSpec) plus
  * hand-derived golden bitstrings.
  *
  * TABLE-LIFT EXTENSION (round 16, q314/q315): the r15
  * transcription-confidence bound (TotalCoeff ≤ 3, nC < 4) is
  * lifted almost everywhere. Carried in FULL: Table 9-7
  * ([[TotalZeros4x4]] — columns 2..15 Kraft-complete, column 1's
  * one reserved 9-bit word pinned), ALL FIVE coeff_token columns of
  * Table 9-5 — 0≤nC<2, 2≤nC<4, and (r17) 4≤nC<8 (62 entries each),
  * the published 6-bit FLC column for nC ≥ 8 (formulaic), and the
  * chroma-DC nC=−1 column (Kraft-complete) — with the chroma
  * total_zeros table, 9.3.2.3's suffixLength init-1 rule
  * (TotalCoeff > 10), the saturated-block total_zeros skip
  * (TotalCoeff = maxNumCoeff), and the chroma DC layer itself —
  * cbp 31, the 2x2 Hadamard, the 8.5.8 scaling, and (r17) the FULL
  * Table 8-15 chroma-QP mapping ([[chromaQp]] — identity below 30,
  * the published compressive tail through 51). The r16 gap — the
  * 4 ≤ nC < 8 coeff_token column, whose first draft transcription
  * FAILED the Kraft audit and was therefore not shipped — is closed
  * by [[CoeffTokenNc47]]: two independent transcriptions agreeing
  * entry-for-entry, structurally audited (prefix-free, Kraft
  * 1 − 2⁻¹⁰, cardinality, golden bitstrings, roundtrip). Every
  * r13/r15 stream (DC-only and TotalCoeff ≤ 3) encodes
  * BIT-IDENTICALLY (golden-pattern specs), so q228/q229/q289 are
  * unchanged, as are q314/q315 (their columns untouched). */
object H264Intra {

  // ---------------------------------------------------------------
  // bit I/O
  // ---------------------------------------------------------------

  final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nBits = 0

    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nBits += 1
      if (nBits == 8) { buf += cur.toByte; cur = 0; nBits = 0 }
    }

    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >>> i) & 1L).toInt); i -= 1 }
    }

    /** Exp-Golomb ue(v). */
    def writeUe(v: Int): Unit = {
      require(v >= 0)
      val cp = v + 1
      val len = 63 - java.lang.Long.numberOfLeadingZeros(cp.toLong).toInt
      writeBits(0L, len)
      writeBits(cp.toLong, len + 1)
    }

    /** Exp-Golomb se(v): 1 -> 1, -1 -> 2, 2 -> 3, -2 -> 4 ... */
    def writeSe(v: Int): Unit =
      writeUe(if (v <= 0) -2 * v else 2 * v - 1)

    /** rbsp_trailing_bits: stop bit + zero pad to a byte boundary. */
    def finishRbsp(): Array[Byte] = {
      writeBit(1)
      while (nBits != 0) writeBit(0)
      buf.toArray
    }
  }

  final class BitReader(bytes: Array[Byte]) {
    private var pos = 0 // bit position

    def readBit(): Int = {
      require(pos < bytes.length * 8, "read past RBSP end")
      val b = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      b
    }

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    def readUe(): Int = {
      var zeros = 0
      while (readBit() == 0) {
        zeros += 1
        require(zeros < 32, "malformed ue(v)")
      }
      ((1L << zeros) - 1 + readBits(zeros)).toInt
    }

    def readSe(): Int = {
      val k = readUe()
      if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
    }
  }

  // ---------------------------------------------------------------
  // RBSP <-> EBSP (emulation prevention) and Annex-B NAL framing
  // ---------------------------------------------------------------

  /** Insert emulation_prevention_three_byte: any 00 00 followed by
    * 00/01/02/03 in the RBSP gets 03 spliced in. */
  def rbspToEbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    for (b <- rbsp) {
      if (zeros >= 2 && (b & 0xFC) == 0) { out += 0x03.toByte; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** Strip emulation_prevention_three_byte (00 00 03 -> 00 00). */
  def ebspToRbsp(ebsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    var i = 0
    while (i < ebsp.length) {
      val b = ebsp(i)
      if (zeros >= 2 && b == 0x03 && i + 1 < ebsp.length &&
          (ebsp(i + 1) & 0xFC) == 0) {
        zeros = 0 // skip the emulation byte
      } else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  val NalSps = 7
  val NalPps = 8
  val NalIdr = 5

  /** One NAL unit WITHOUT framing: header byte + EBSP body — the
    * form avcC/length-prefixed MP4 samples carry. */
  def nalBytes(nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    Array(((3 << 5) | nalType).toByte) ++ rbspToEbsp(rbsp)

  /** One Annex-B NAL unit: 4-byte start code, header, EBSP body. */
  def nalUnit(nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 0, 1) ++ nalBytes(nalType, rbsp)

  /** Split an Annex-B stream into (nal_unit_type, RBSP) units. */
  def splitNals(stream: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 2 < stream.length) {
      if (stream(i) == 0 && stream(i + 1) == 0 && stream(i + 2) == 1)
        starts += i + 3
      i += 1
    }
    require(starts.nonEmpty, "no start code in stream")
    starts.toSeq.zipAll(starts.toSeq.drop(1), 0, stream.length + 3)
      .map { case (s, e) =>
        val end = e - 3 // strip the next unit's start code
        val hdr = stream(s) & 0xFF
        require((hdr & 0x80) == 0, "forbidden_zero_bit set")
        (hdr & 0x1F, ebspToRbsp(stream.slice(s + 1, end)))
      }
  }

  // ---------------------------------------------------------------
  // parameter sets
  // ---------------------------------------------------------------

  case class Sps(widthMbs: Int, heightMbs: Int)
  case class Pps(picInitQp: Int)

  def writeSps(sps: Sps): Array[Byte] = {
    val w = new BitWriter
    w.writeBits(66, 8) // profile_idc: Baseline
    w.writeBits(0, 8)  // constraint flags + reserved
    w.writeBits(10, 8) // level_idc 1.0
    w.writeUe(0)       // seq_parameter_set_id
    w.writeUe(0)       // log2_max_frame_num_minus4
    w.writeUe(2)       // pic_order_cnt_type
    w.writeUe(0)       // max_num_ref_frames (intra-only)
    w.writeBit(0)      // gaps_in_frame_num_value_allowed_flag
    w.writeUe(sps.widthMbs - 1)  // pic_width_in_mbs_minus1
    w.writeUe(sps.heightMbs - 1) // pic_height_in_map_units_minus1
    w.writeBit(1)      // frame_mbs_only_flag
    w.writeBit(1)      // direct_8x8_inference_flag
    w.writeBit(0)      // frame_cropping_flag
    w.writeBit(0)      // vui_parameters_present_flag
    w.finishRbsp()
  }

  def parseSps(rbsp: Array[Byte]): Sps = {
    val r = new BitReader(rbsp)
    val profile = r.readBits(8).toInt
    require(profile == 66, s"unsupported profile_idc $profile")
    r.readBits(8); r.readBits(8) // constraints, level
    require(r.readUe() == 0, "seq_parameter_set_id != 0")
    require(r.readUe() == 0, "log2_max_frame_num_minus4 != 0")
    require(r.readUe() == 2, "pic_order_cnt_type != 2")
    r.readUe() // max_num_ref_frames
    r.readBit() // gaps allowed
    val wMbs = r.readUe() + 1
    val hMbs = r.readUe() + 1
    require(r.readBit() == 1, "interlace unsupported")
    r.readBit() // direct_8x8_inference_flag
    require(r.readBit() == 0, "cropping unsupported")
    require(r.readBit() == 0, "VUI unsupported")
    Sps(wMbs, hMbs)
  }

  def writePps(pps: Pps): Array[Byte] = {
    val w = new BitWriter
    w.writeUe(0) // pic_parameter_set_id
    w.writeUe(0) // seq_parameter_set_id
    w.writeBit(0) // entropy_coding_mode_flag: CAVLC
    w.writeBit(0) // bottom_field_pic_order_in_frame_present_flag
    w.writeUe(0)  // num_slice_groups_minus1
    w.writeUe(0)  // num_ref_idx_l0_default_active_minus1
    w.writeUe(0)  // num_ref_idx_l1_default_active_minus1
    w.writeBit(0) // weighted_pred_flag
    w.writeBits(0, 2) // weighted_bipred_idc
    w.writeSe(pps.picInitQp - 26) // pic_init_qp_minus26
    w.writeSe(0)  // pic_init_qs_minus26
    w.writeSe(0)  // chroma_qp_index_offset
    w.writeBit(1) // deblocking_filter_control_present_flag
    w.writeBit(0) // constrained_intra_pred_flag
    w.writeBit(0) // redundant_pic_cnt_present_flag
    w.finishRbsp()
  }

  def parsePps(rbsp: Array[Byte]): Pps = {
    val r = new BitReader(rbsp)
    require(r.readUe() == 0 && r.readUe() == 0, "ps ids != 0")
    require(r.readBit() == 0, "CABAC unsupported (CAVLC profile)")
    r.readBit()
    require(r.readUe() == 0, "slice groups unsupported")
    r.readUe(); r.readUe(); r.readBit(); r.readBits(2)
    val qp = r.readSe() + 26
    r.readSe(); r.readSe()
    val deblockCtl = r.readBit()
    require(deblockCtl == 1,
      "stream must carry deblocking control (this codec requires " +
        "disable_deblocking_filter_idc=1 in the slice header)")
    require(r.readBit() == 0, "constrained_intra_pred unsupported")
    r.readBit()
    Pps(qp)
  }

  // ---------------------------------------------------------------
  // transform + quant (clause 8.5; tables are the published
  // MF/V constants of the reference quantizer design)
  // ---------------------------------------------------------------

  /** Quantizer multipliers MF (encoder) per QP%6 for coefficient
    * positions: (0,0)-class, (1,1)-class, other. */
  private val Mf: Array[Array[Int]] = Array(
    Array(13107, 5243, 8066),
    Array(11916, 4660, 7490),
    Array(10082, 4194, 6554),
    Array(9362, 3647, 5825),
    Array(8192, 3355, 5243),
    Array(7282, 2893, 4559))

  /** Dequantizer scale V (decoder) per QP%6, same position classes. */
  private val Vs: Array[Array[Int]] = Array(
    Array(10, 16, 13),
    Array(11, 18, 14),
    Array(13, 20, 16),
    Array(14, 23, 18),
    Array(16, 25, 20),
    Array(18, 29, 23))

  private def posClass(r: Int, c: Int): Int =
    if ((r == 0 || r == 2) && (c == 0 || c == 2)) 0
    else if ((r == 1 || r == 3) && (c == 1 || c == 3)) 1
    else 2

  /** Forward 4x4 core transform W = Cf X CfT (row-major 16). */
  def forward4x4(x: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    // rows: Cf * X
    var r = 0
    while (r < 4) {
      val a = x(4 * r); val b = x(4 * r + 1)
      val c = x(4 * r + 2); val d = x(4 * r + 3)
      t(4 * r) = a + b + c + d
      t(4 * r + 1) = 2 * a + b - c - 2 * d
      t(4 * r + 2) = a - b - c + d
      t(4 * r + 3) = a - 2 * b + 2 * c - d
      r += 1
    }
    val w = new Array[Int](16)
    var cI = 0
    while (cI < 4) {
      val a = t(cI); val b = t(4 + cI); val c = t(8 + cI)
      val d = t(12 + cI)
      w(cI) = a + b + c + d
      w(4 + cI) = 2 * a + b - c - 2 * d
      w(8 + cI) = a - b - c + d
      w(12 + cI) = a - 2 * b + 2 * c - d
      cI += 1
    }
    w
  }

  /** Inverse 4x4 core transform with the final (x+32)>>6 rounding;
    * input is the DEQUANTIZED coefficient block. */
  def inverse4x4(w: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var c = 0
    while (c < 4) {
      val a = w(c); val b = w(4 + c); val cc = w(8 + c)
      val d = w(12 + c)
      val e0 = a + cc; val e1 = a - cc
      val e2 = (b >> 1) - d; val e3 = b + (d >> 1)
      t(c) = e0 + e3
      t(4 + c) = e1 + e2
      t(8 + c) = e1 - e2
      t(12 + c) = e0 - e3
      c += 1
    }
    val out = new Array[Int](16)
    var r = 0
    while (r < 4) {
      val a = t(4 * r); val b = t(4 * r + 1); val cc = t(4 * r + 2)
      val d = t(4 * r + 3)
      val e0 = a + cc; val e1 = a - cc
      val e2 = (b >> 1) - d; val e3 = b + (d >> 1)
      out(4 * r) = (e0 + e3 + 32) >> 6
      out(4 * r + 1) = (e1 + e2 + 32) >> 6
      out(4 * r + 2) = (e1 - e2 + 32) >> 6
      out(4 * r + 3) = (e0 - e3 + 32) >> 6
      r += 1
    }
    out
  }

  /** Quantize one transformed coefficient at (r,c) for `qp`. */
  def quantCoeff(w: Int, r: Int, c: Int, qp: Int): Int = {
    val qbits = 15 + qp / 6
    val f = (1 << qbits) / 3 // intra deadzone
    val mf = Mf(qp % 6)(posClass(r, c))
    val lvl = ((math.abs(w).toLong * mf + f) >> qbits).toInt
    if (w < 0) -lvl else lvl
  }

  /** Dequantize one level at (r,c) for `qp`. */
  def dequantCoeff(level: Int, r: Int, c: Int, qp: Int): Int =
    level * Vs(qp % 6)(posClass(r, c)) << (qp / 6)

  // ---------------------------------------------------------------
  // chroma DC 2x2 (clause 8.5.8, 4:2:0): the four chroma blocks' DC
  // coefficients ride their own 2x2 Hadamard + quant layer. r17
  // lifts the qP < 30 pin: the published chroma-QP mapping
  // (Table 8-15) is carried in full — identity below 30, the
  // compressive tail 30..51 as the spec's table values. Both quant
  // directions map identically, so the qP-ladder losslessness spec
  // extends past 30 unchanged.
  // ---------------------------------------------------------------

  /** Table 8-15: QPc as a function of qPi (chroma_qp_index_offset is
    * pinned 0 in this profile, so qPi = slice QP). Identity below
    * 30; the published compressive tail above. Spec-pinned by the
    * qP-ladder losslessness test across 0..51 (H264IntraSpec). */
  private val ChromaQpTail: Array[Int] = Array(
    // qPi:  30  31  32  33  34  35  36  37  38  39  40
    29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36,
    // qPi:  41  42  43  44  45  46  47  48  49  50  51
    36, 37, 37, 37, 38, 38, 38, 39, 39, 39, 39)

  def chromaQp(qp: Int): Int = {
    require(qp >= 0 && qp <= 51, s"qP $qp out of range")
    if (qp < 30) qp else ChromaQpTail(qp - 30)
  }

  /** 2x2 Hadamard, f = [[1,1],[1,-1]] applied both sides — its own
    * inverse up to the ×4 gain the quant layers absorb. Input and
    * output in raster scan (up-left, up-right, down-left,
    * down-right — 8.5.8's chroma DC scan). */
  def hadamard2x2(d: Array[Int]): Array[Int] = {
    require(d.length == 4, "2x2 block carries 4 values")
    Array(
      d(0) + d(1) + d(2) + d(3), d(0) - d(1) + d(2) - d(3),
      d(0) + d(1) - d(2) - d(3), d(0) - d(1) - d(2) + d(3))
  }

  /** Quantize one transformed chroma DC coefficient: the (0,0) MF
    * row at qbits+1 (the Hadamard's extra gain), intra deadzone
    * doubled to match. */
  def quantChromaDc(f: Int, qp: Int): Int = {
    val qc = chromaQp(qp)
    val qbits = 15 + qc / 6
    val dead = ((1 << qbits) / 3) * 2
    val mf = Mf(qc % 6)(0)
    val lvl = ((math.abs(f).toLong * mf + dead) >> (qbits + 1)).toInt
    if (f < 0) -lvl else lvl
  }

  /** Dequantize one Hadamard-domain chroma DC value. 8.5.8 states
    * dcC = ((f · LevelScale(qP%6,0,0)) << (qP/6)) >> 5 with
    * LevelScale = weightScale(=16, flat) × normAdjust; [[Vs]] IS
    * normAdjust (the ×16 is folded out of the normal path's >>4 the
    * same way), so against Vs the shift is >> 1. Verified by the
    * spec's own fixpoint: a flat chroma residual k at qP 0 must
    * reconstruct to k exactly (H264IntraSpec). */
  def dequantChromaDc(f: Int, qp: Int): Int = {
    val qc = chromaQp(qp)
    ((f * Vs(qc % 6)(0)) << (qc / 6)) >> 1
  }

  // ---------------------------------------------------------------
  // CAVLC (clause 9.2) — constrained to the nC<2 context the
  // DC-only streams can produce; see the object scaladoc
  // ---------------------------------------------------------------

  /** coeff_token for 0 <= nC < 2: (TrailingOnes, TotalCoeff) ->
    * (bit length, bits). The full published column of Table 9-5. */
  val CoeffTokenNc01: Map[(Int, Int), (Int, Int)] = Map(
    (0, 0) -> (1, 1),
    (0, 1) -> (6, 5), (1, 1) -> (2, 1),
    (0, 2) -> (8, 7), (1, 2) -> (6, 4), (2, 2) -> (3, 1),
    (0, 3) -> (9, 7), (1, 3) -> (8, 6), (2, 3) -> (7, 5),
    (3, 3) -> (5, 3),
    (0, 4) -> (10, 7), (1, 4) -> (9, 6), (2, 4) -> (8, 5),
    (3, 4) -> (6, 3),
    (0, 5) -> (11, 7), (1, 5) -> (10, 6), (2, 5) -> (9, 5),
    (3, 5) -> (7, 4),
    (0, 6) -> (13, 15), (1, 6) -> (11, 6), (2, 6) -> (10, 5),
    (3, 6) -> (8, 4),
    (0, 7) -> (13, 11), (1, 7) -> (13, 14), (2, 7) -> (11, 5),
    (3, 7) -> (9, 4),
    (0, 8) -> (13, 8), (1, 8) -> (13, 10), (2, 8) -> (13, 13),
    (3, 8) -> (10, 4),
    (0, 9) -> (14, 15), (1, 9) -> (14, 14), (2, 9) -> (13, 9),
    (3, 9) -> (11, 4),
    (0, 10) -> (14, 11), (1, 10) -> (14, 10), (2, 10) -> (14, 13),
    (3, 10) -> (13, 12),
    (0, 11) -> (15, 15), (1, 11) -> (15, 14), (2, 11) -> (14, 9),
    (3, 11) -> (14, 12),
    (0, 12) -> (15, 11), (1, 12) -> (15, 10), (2, 12) -> (15, 13),
    (3, 12) -> (14, 8),
    (0, 13) -> (16, 15), (1, 13) -> (15, 1), (2, 13) -> (15, 9),
    (3, 13) -> (15, 12),
    (0, 14) -> (16, 11), (1, 14) -> (16, 14), (2, 14) -> (16, 13),
    (3, 14) -> (15, 8),
    (0, 15) -> (16, 7), (1, 15) -> (16, 10), (2, 15) -> (16, 9),
    (3, 15) -> (16, 12),
    (0, 16) -> (16, 4), (1, 16) -> (16, 6), (2, 16) -> (16, 5),
    (3, 16) -> (16, 8))

  /** total_zeros for TotalCoeff == 1 (tzVlcIndex 1 of Table 9-7):
    * totalZeros -> (len, bits). */
  val TotalZerosTc1: Map[Int, (Int, Int)] = Map(
    0 -> (1, 1), 1 -> (3, 3), 2 -> (3, 2), 3 -> (4, 3), 4 -> (4, 2),
    5 -> (5, 3), 6 -> (5, 2), 7 -> (6, 3), 8 -> (6, 2), 9 -> (7, 3),
    10 -> (7, 2), 11 -> (8, 3), 12 -> (8, 2), 13 -> (9, 3),
    14 -> (9, 2), 15 -> (9, 1))

  /** Round-15's per-block coefficient bound, kept as the named
    * constant the DC/AC fixtures and their specs still reference.
    * ROUND 16 LIFTED THE MACHINERY BOUND (Table 9-7 in full, the
    * nC<2 / 2≤nC<4 / nC≥8 / nC=−1 coeff_token columns); ROUND 17
    * closes the table set with [[CoeffTokenNc47]] — any TotalCoeff
    * 0..16 en/decodes in every derivable nC context. */
  val MaxTotalCoeff = 3

  /** coeff_token for 2 <= nC < 4 — the FULL published column of
    * Table 9-5 (r16; the TotalCoeff ≤ 3 head is the r15 table
    * verbatim): (TrailingOnes, TotalCoeff) -> (bit length, bits).
    * Structurally pinned by H264IntraSpec: prefix-free, Kraft sum
    * 1 − 2⁻¹³ (this column reserves codespace; coeff_token columns,
    * unlike total_zeros, need not be complete), correct cardinality
    * (62 entries). */
  val CoeffTokenNc23: Map[(Int, Int), (Int, Int)] = Map(
    (0, 0) -> (2, 3),
    (0, 1) -> (6, 11), (1, 1) -> (2, 2),
    (0, 2) -> (6, 7), (1, 2) -> (5, 7), (2, 2) -> (3, 3),
    (0, 3) -> (7, 7), (1, 3) -> (6, 10), (2, 3) -> (6, 9),
    (3, 3) -> (4, 5),
    (0, 4) -> (8, 7), (1, 4) -> (6, 6), (2, 4) -> (6, 5),
    (3, 4) -> (4, 4),
    (0, 5) -> (8, 4), (1, 5) -> (7, 6), (2, 5) -> (7, 5),
    (3, 5) -> (5, 6),
    (0, 6) -> (9, 7), (1, 6) -> (8, 6), (2, 6) -> (8, 5),
    (3, 6) -> (6, 8),
    (0, 7) -> (11, 15), (1, 7) -> (9, 6), (2, 7) -> (9, 5),
    (3, 7) -> (6, 4),
    (0, 8) -> (11, 11), (1, 8) -> (11, 14), (2, 8) -> (11, 13),
    (3, 8) -> (7, 4),
    (0, 9) -> (12, 15), (1, 9) -> (11, 10), (2, 9) -> (11, 9),
    (3, 9) -> (9, 4),
    (0, 10) -> (12, 11), (1, 10) -> (12, 14), (2, 10) -> (12, 13),
    (3, 10) -> (11, 12),
    (0, 11) -> (12, 8), (1, 11) -> (12, 10), (2, 11) -> (12, 9),
    (3, 11) -> (11, 8),
    (0, 12) -> (13, 15), (1, 12) -> (13, 14), (2, 12) -> (13, 13),
    (3, 12) -> (12, 12),
    (0, 13) -> (13, 11), (1, 13) -> (13, 10), (2, 13) -> (13, 9),
    (3, 13) -> (13, 12),
    (0, 14) -> (13, 7), (1, 14) -> (14, 11), (2, 14) -> (13, 6),
    (3, 14) -> (13, 8),
    (0, 15) -> (14, 9), (1, 15) -> (14, 8), (2, 15) -> (14, 10),
    (3, 15) -> (13, 1),
    (0, 16) -> (14, 7), (1, 16) -> (14, 6), (2, 16) -> (14, 5),
    (3, 16) -> (14, 4))

  /** coeff_token for 4 <= nC < 8 — the FULL published middle column
    * of Table 9-5 (r17): (TrailingOnes, TotalCoeff) -> (bit length,
    * bits). LIFTED FROM TWO INDEPENDENT TRANSCRIPTIONS that agree
    * entry-for-entry: the spec table's codeword strings (e.g.
    * (0,0) -> 1111, (1,2) -> 01111, (3,8) -> 01101) and the
    * len/bits array layout common to open decoders. Structurally
    * pinned by H264IntraSpec: prefix-free, Kraft sum 1 − 2⁻¹⁰
    * (this column reserves ONE 10-bit word — coeff_token columns,
    * unlike total_zeros, need not be complete), correct cardinality
    * (62 entries), length profile 8×4b + 8×5b + 8×6b + 8×7b + 8×8b
    * + 9×9b + 13×10b, golden bitstrings, and full encode/decode
    * roundtrip. This closes the last CAVLC column: every nC
    * context −1, [0,2), [2,4), [4,8), ≥8 now en/decodes. */
  val CoeffTokenNc47: Map[(Int, Int), (Int, Int)] = Map(
    (0, 0) -> (4, 15),
    (0, 1) -> (6, 15), (1, 1) -> (4, 14),
    (0, 2) -> (6, 11), (1, 2) -> (5, 15), (2, 2) -> (4, 13),
    (0, 3) -> (6, 8), (1, 3) -> (5, 12), (2, 3) -> (5, 14),
    (3, 3) -> (4, 12),
    (0, 4) -> (7, 15), (1, 4) -> (5, 10), (2, 4) -> (5, 11),
    (3, 4) -> (4, 11),
    (0, 5) -> (7, 11), (1, 5) -> (5, 8), (2, 5) -> (5, 9),
    (3, 5) -> (4, 10),
    (0, 6) -> (7, 9), (1, 6) -> (6, 14), (2, 6) -> (6, 13),
    (3, 6) -> (4, 9),
    (0, 7) -> (7, 8), (1, 7) -> (6, 10), (2, 7) -> (6, 9),
    (3, 7) -> (4, 8),
    (0, 8) -> (8, 15), (1, 8) -> (7, 14), (2, 8) -> (7, 13),
    (3, 8) -> (5, 13),
    (0, 9) -> (8, 11), (1, 9) -> (8, 14), (2, 9) -> (7, 10),
    (3, 9) -> (6, 12),
    (0, 10) -> (9, 15), (1, 10) -> (8, 10), (2, 10) -> (8, 13),
    (3, 10) -> (7, 12),
    (0, 11) -> (9, 11), (1, 11) -> (9, 14), (2, 11) -> (8, 9),
    (3, 11) -> (8, 12),
    (0, 12) -> (9, 8), (1, 12) -> (9, 10), (2, 12) -> (9, 13),
    (3, 12) -> (8, 8),
    (0, 13) -> (10, 13), (1, 13) -> (9, 7), (2, 13) -> (9, 9),
    (3, 13) -> (9, 12),
    (0, 14) -> (10, 9), (1, 14) -> (10, 12), (2, 14) -> (10, 11),
    (3, 14) -> (10, 10),
    (0, 15) -> (10, 5), (1, 15) -> (10, 8), (2, 15) -> (10, 7),
    (3, 15) -> (10, 6),
    (0, 16) -> (10, 1), (1, 16) -> (10, 4), (2, 16) -> (10, 3),
    (3, 16) -> (10, 2))

  /** coeff_token for nC == −1 (the CHROMA DC 2x2 block, 4:2:0) —
    * the full published column of Table 9-5: (TrailingOnes,
    * TotalCoeff) -> (bit length, bits). Spec-pinned: prefix-free
    * AND Kraft-COMPLETE (sum exactly 1 — this column reserves
    * nothing), 14 entries. */
  val CoeffTokenChromaDc: Map[(Int, Int), (Int, Int)] = Map(
    (0, 0) -> (2, 1),
    (0, 1) -> (6, 7), (1, 1) -> (1, 1),
    (0, 2) -> (6, 4), (1, 2) -> (6, 6), (2, 2) -> (3, 1),
    (0, 3) -> (6, 3), (1, 3) -> (7, 3), (2, 3) -> (7, 2),
    (3, 3) -> (6, 5),
    (0, 4) -> (6, 2), (1, 4) -> (8, 3), (2, 4) -> (8, 2),
    (3, 4) -> (7, 0))

  /** total_zeros, tzVlcIndex 2 of Table 9-7 (TotalCoeff == 2):
    * totalZeros -> (len, bits). Full column (Kraft-complete). */
  val TotalZerosTc2: Map[Int, (Int, Int)] = Map(
    0 -> (3, 7), 1 -> (3, 6), 2 -> (3, 5), 3 -> (3, 4), 4 -> (3, 3),
    5 -> (4, 5), 6 -> (4, 4), 7 -> (4, 3), 8 -> (4, 2), 9 -> (5, 3),
    10 -> (5, 2), 11 -> (6, 3), 12 -> (6, 2), 13 -> (6, 1),
    14 -> (6, 0))

  /** total_zeros, tzVlcIndex 3 of Table 9-7 (TotalCoeff == 3):
    * totalZeros -> (len, bits). Full column (Kraft-complete). */
  val TotalZerosTc3: Map[Int, (Int, Int)] = Map(
    0 -> (4, 5), 1 -> (3, 7), 2 -> (3, 6), 3 -> (3, 5), 4 -> (4, 4),
    5 -> (4, 3), 6 -> (3, 4), 7 -> (3, 3), 8 -> (4, 2), 9 -> (5, 3),
    10 -> (5, 2), 11 -> (6, 1), 12 -> (5, 1), 13 -> (6, 0))

  /** total_zeros for 4x4 blocks, Table 9-7 IN FULL (r16):
    * tzVlcIndex (= TotalCoeff) 1..15 -> (totalZeros -> (len, bits)).
    * Rows 1..3 are [[TotalZerosTc1]]/[[TotalZerosTc2]]/
    * [[TotalZerosTc3]] verbatim (golden-pinned since r13/r15); rows
    * 4..15 complete the table. Structural pin (H264IntraSpec):
    * every column prefix-free; columns 2..15 Kraft-COMPLETE (sum
    * exactly 1 — one wrong code LENGTH anywhere breaks its column's
    * sum); column 1 sums to 1 − 2⁻⁹ (the spec reserves the all-zero
    * 9-bit word there). */
  val TotalZeros4x4: Map[Int, Map[Int, (Int, Int)]] = {
    val lens: Array[Array[Int]] = Array(
      Array(1, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9, 9),
      Array(3, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 6, 6, 6, 6),
      Array(4, 3, 3, 3, 4, 4, 3, 3, 4, 5, 5, 6, 5, 6),
      Array(5, 3, 4, 4, 3, 3, 3, 4, 3, 4, 5, 5, 5),
      Array(4, 4, 4, 3, 3, 3, 3, 3, 4, 5, 4, 5),
      Array(6, 5, 3, 3, 3, 3, 3, 3, 4, 3, 6),
      Array(6, 5, 3, 3, 3, 2, 3, 4, 3, 6),
      Array(6, 4, 5, 3, 2, 2, 3, 3, 6),
      Array(6, 6, 4, 2, 2, 3, 2, 5),
      Array(5, 5, 3, 2, 2, 2, 4),
      Array(4, 4, 3, 3, 1, 3),
      Array(4, 4, 2, 1, 3),
      Array(3, 3, 1, 2),
      Array(2, 2, 1),
      Array(1, 1))
    val bits: Array[Array[Int]] = Array(
      Array(1, 3, 2, 3, 2, 3, 2, 3, 2, 3, 2, 3, 2, 3, 2, 1),
      Array(7, 6, 5, 4, 3, 5, 4, 3, 2, 3, 2, 3, 2, 1, 0),
      Array(5, 7, 6, 5, 4, 3, 4, 3, 2, 3, 2, 1, 1, 0),
      Array(3, 7, 5, 4, 6, 5, 4, 3, 3, 2, 2, 1, 0),
      Array(5, 4, 3, 7, 6, 5, 4, 3, 2, 1, 1, 0),
      Array(1, 1, 7, 6, 5, 4, 3, 2, 1, 1, 0),
      Array(1, 1, 5, 4, 3, 3, 2, 1, 1, 0),
      Array(1, 1, 1, 3, 3, 2, 2, 1, 0),
      Array(1, 0, 1, 3, 2, 1, 1, 1),
      Array(1, 0, 1, 3, 2, 1, 1),
      Array(0, 1, 1, 2, 1, 3),
      Array(0, 1, 1, 1, 1),
      Array(0, 1, 1, 1),
      Array(0, 1, 1),
      Array(0, 1))
    (1 to 15).map { tc =>
      tc -> lens(tc - 1).indices.map { z =>
        z -> ((lens(tc - 1)(z), bits(tc - 1)(z)))
      }.toMap
    }.toMap
  }

  /** total_zeros for CHROMA DC 2x2 blocks (4:2:0 — the published
    * maxNumCoeff-4 table): tzVlcIndex (= TotalCoeff) 1..3 ->
    * (totalZeros -> (len, bits)). TotalCoeff == 4 forces
    * totalZeros == 0, not coded. Every column Kraft-complete,
    * spec-pinned. */
  val TotalZerosChromaDc: Map[Int, Map[Int, (Int, Int)]] = Map(
    1 -> Map(0 -> (1, 1), 1 -> (2, 1), 2 -> (3, 1), 3 -> (3, 0)),
    2 -> Map(0 -> (1, 1), 1 -> (2, 1), 2 -> (2, 0)),
    3 -> Map(0 -> (1, 1), 1 -> (1, 0)))

  /** run_before, Table 9-10, the zerosLeft 1..6 columns:
    * zerosLeft -> (run -> (len, bits)). Each column Kraft-complete.
    * The zerosLeft > 6 column is formulaic and lives in
    * [[writeRunBefore]]/[[readRunBefore]]: 3-bit 7-run for run <= 6,
    * then (run-4) zeros + 1 for run 7..14. */
  val RunBefore: Map[Int, Map[Int, (Int, Int)]] = Map(
    1 -> Map(0 -> (1, 1), 1 -> (1, 0)),
    2 -> Map(0 -> (1, 1), 1 -> (2, 1), 2 -> (2, 0)),
    3 -> Map(0 -> (2, 3), 1 -> (2, 2), 2 -> (2, 1), 3 -> (2, 0)),
    4 -> Map(0 -> (2, 3), 1 -> (2, 2), 2 -> (2, 1), 3 -> (3, 1),
      4 -> (3, 0)),
    5 -> Map(0 -> (2, 3), 1 -> (2, 2), 2 -> (3, 3), 3 -> (3, 2),
      4 -> (3, 1), 5 -> (3, 0)),
    6 -> Map(0 -> (2, 3), 1 -> (3, 0), 2 -> (3, 1), 3 -> (3, 3),
      4 -> (3, 2), 5 -> (3, 5), 6 -> (3, 4)))

  /** Zig-zag scan of a 4x4 block (clause 8.5.5, frame scan):
    * zig-zag index -> raster index. */
  val ZigZag4x4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  // decode-side inverses, keyed by (code length, code bits); the
  // tables are prefix-free so incremental longest-match by exact
  // length is the canonical parse (prefix-freeness spec-pinned)
  private val CoeffTokenInv: Map[(Int, Int), (Int, Int)] =
    CoeffTokenNc01.map { case (k, v) => v -> k }
  private val CoeffTokenInv23: Map[(Int, Int), (Int, Int)] =
    CoeffTokenNc23.map { case (k, v) => v -> k }
  private val CoeffTokenInv47: Map[(Int, Int), (Int, Int)] =
    CoeffTokenNc47.map { case (k, v) => v -> k }
  private val CoeffTokenInvCdc: Map[(Int, Int), (Int, Int)] =
    CoeffTokenChromaDc.map { case (k, v) => v -> k }
  private val TotalZerosInv: Map[(Int, Int), Int] =
    TotalZerosTc1.map { case (k, v) => v -> k }
  private val TotalZerosInv2: Map[(Int, Int), Int] =
    TotalZerosTc2.map { case (k, v) => v -> k }
  private val TotalZerosInv3: Map[(Int, Int), Int] =
    TotalZerosTc3.map { case (k, v) => v -> k }
  private val TotalZerosInv4x4: Map[Int, Map[(Int, Int), Int]] =
    TotalZeros4x4.map { case (tc, m) =>
      tc -> m.map { case (k, v) => v -> k }
    }
  private val TotalZerosInvCdc: Map[Int, Map[(Int, Int), Int]] =
    TotalZerosChromaDc.map { case (tc, m) =>
      tc -> m.map { case (k, v) => v -> k }
    }
  private val RunBeforeInv: Map[Int, Map[(Int, Int), Int]] =
    RunBefore.map { case (zl, m) =>
      zl -> m.map { case (k, v) => v -> k }
    }

  /** Encode a residual block known to be DC-only: levels.length is
    * TotalCoeff (0 or 1), coefficient at zig-zag position 0. */
  def writeCavlcDcOnly(w: BitWriter, level: Int, nC: Int): Unit = {
    require(nC >= 0 && nC < 2,
      s"constrained CAVLC: nC=$nC outside the DC-only profile")
    if (level == 0) {
      val (len, bits) = CoeffTokenNc01((0, 0))
      w.writeBits(bits, len)
      return
    }
    val t1 = if (math.abs(level) == 1) 1 else 0
    val (len, bits) = CoeffTokenNc01((t1, 1))
    w.writeBits(bits, len)
    if (t1 == 1) {
      w.writeBit(if (level < 0) 1 else 0) // trailing_ones_sign_flag
    } else {
      // general level coding, suffixLength starts at 0
      // (TotalCoeff <= 10); clause 9.2.2.1: the FIRST level after
      // fewer than 3 trailing ones cannot be ±1 (it would have been
      // a trailing one), so its code space shifts down by 2
      val levelCode =
        (if (level > 0) 2 * level - 2 else -2 * level - 1) - 2
      if (levelCode < 14) {
        w.writeBits(0L, levelCode); w.writeBit(1) // level_prefix
      } else if (levelCode < 30) {
        w.writeBits(0L, 14); w.writeBit(1)
        w.writeBits((levelCode - 14).toLong, 4)
      } else {
        require(levelCode - 30 < (1 << 12),
          s"level $level outside the prefix-15 escape range")
        w.writeBits(0L, 15); w.writeBit(1)
        w.writeBits((levelCode - 30).toLong, 12)
      }
    }
    // total_zeros: DC-only -> coefficient sits at zig-zag 0, so no
    // zeros precede it
    val (zl, zb) = TotalZerosTc1(0)
    w.writeBits(zb, zl)
    // run_before: absent for TotalCoeff == 1
  }

  /** Decode one CAVLC residual block under the constrained profile.
    * Returns the signed DC level (0 if the block coded no
    * coefficients). */
  def readCavlcDcOnly(r: BitReader, nC: Int): Int = {
    require(nC >= 0 && nC < 2,
      s"constrained CAVLC: nC=$nC outside the DC-only profile")
    // longest-prefix match over the nC<2 coeff_token column
    var len = 0
    var acc = 0
    var hit: Option[(Int, Int)] = None
    while (hit.isEmpty) {
      require(len < 16, "malformed coeff_token")
      acc = (acc << 1) | r.readBit()
      len += 1
      hit = CoeffTokenInv.get((len, acc))
    }
    val (t1s, totalCoeff) = hit.get
    if (totalCoeff == 0) return 0
    require(totalCoeff == 1,
      s"constrained CAVLC: TotalCoeff=$totalCoeff (DC-only profile " +
        "carries at most one coefficient per block)")
    val level =
      if (t1s == 1) {
        if (r.readBit() == 1) -1 else 1
      } else {
        var prefix = 0
        while (r.readBit() == 0) {
          prefix += 1
          require(prefix <= 15, "malformed level_prefix")
        }
        val rawCode =
          if (prefix < 14) prefix
          else if (prefix == 14) 14 + r.readBits(4).toInt
          else 30 + r.readBits(12).toInt
        // clause 9.2.2.1: first level, TrailingOnes(=0) < 3 -> +2
        val levelCode = rawCode + 2
        if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      }
    // total_zeros (tzVlcIndex = 1)
    var zLen = 0
    var zAcc = 0
    var zHit: Option[Int] = None
    while (zHit.isEmpty) {
      require(zLen < 10, "malformed total_zeros")
      zAcc = (zAcc << 1) | r.readBit()
      zLen += 1
      zHit = TotalZerosInv.get((zLen, zAcc))
    }
    require(zHit.get == 0,
      "constrained CAVLC: non-DC coefficient position " +
        s"(total_zeros=${zHit.get})")
    level
  }

  // ---------------------------------------------------------------
  // general CAVLC (the extended profile: TotalCoeff <= 3, nC < 4)
  // ---------------------------------------------------------------

  /** Write one coded level per 9.2.2 at the current suffixLength:
    * level_prefix zeros + stop bit + suffix. level_prefix stays
    * <= 15 (the profile bound; 16+ mega-escapes rejected). */
  private def writeLevelCode(w: BitWriter, levelCode: Int,
      suffixLength: Int): Unit = {
    if (suffixLength == 0) {
      if (levelCode < 14) { w.writeBits(0L, levelCode); w.writeBit(1) }
      else if (levelCode < 30) {
        w.writeBits(0L, 14); w.writeBit(1)
        w.writeBits((levelCode - 14).toLong, 4)
      } else {
        require(levelCode - 30 < (1 << 12),
          s"level code $levelCode outside the prefix-15 escape range")
        w.writeBits(0L, 15); w.writeBit(1)
        w.writeBits((levelCode - 30).toLong, 12)
      }
    } else {
      val prefix = levelCode >> suffixLength
      if (prefix < 15) {
        w.writeBits(0L, prefix); w.writeBit(1)
        w.writeBits(
          (levelCode & ((1 << suffixLength) - 1)).toLong, suffixLength)
      } else {
        val esc = levelCode - (15 << suffixLength)
        require(esc < (1 << 12),
          s"level code $levelCode outside the prefix-15 escape range")
        w.writeBits(0L, 15); w.writeBit(1)
        w.writeBits(esc.toLong, 12)
      }
    }
  }

  /** Read one level code per 9.3.2.3 at the current suffixLength
    * (level_prefix > 15 is outside the extended profile). */
  private def readLevelCode(r: BitReader, suffixLength: Int): Int = {
    var prefix = 0
    while (r.readBit() == 0) {
      prefix += 1
      require(prefix <= 15,
        "extended profile: level_prefix > 15 unsupported")
    }
    if (suffixLength == 0) {
      if (prefix < 14) prefix
      else if (prefix == 14) 14 + r.readBits(4).toInt
      else 30 + r.readBits(12).toInt
    } else {
      if (prefix < 15)
        (prefix << suffixLength) + r.readBits(suffixLength).toInt
      else (15 << suffixLength) + r.readBits(12).toInt
    }
  }

  /** Write run_before for `run` zeros below a coefficient given
    * `zerosLeft` (Table 9-10; the >6 column's unary tail for
    * run >= 7). */
  def writeRunBefore(w: BitWriter, run: Int, zerosLeft: Int): Unit = {
    require(zerosLeft >= 1 && run >= 0 && run <= zerosLeft,
      s"run_before out of range: run=$run zerosLeft=$zerosLeft")
    if (zerosLeft <= 6) {
      val (len, bits) = RunBefore(zerosLeft)(run)
      w.writeBits(bits.toLong, len)
    } else if (run <= 6) {
      w.writeBits((7 - run).toLong, 3)
    } else {
      require(run <= 14, s"run_before $run exceeds the 4x4 maximum")
      w.writeBits(0L, run - 4); w.writeBit(1)
    }
  }

  /** Read run_before given `zerosLeft` (Table 9-10). */
  def readRunBefore(r: BitReader, zerosLeft: Int): Int = {
    require(zerosLeft >= 1, "run_before read with no zeros left")
    if (zerosLeft <= 6) {
      val inv = RunBeforeInv(zerosLeft)
      var len = 0
      var acc = 0
      var hit: Option[Int] = None
      while (hit.isEmpty) {
        require(len < 4, "malformed run_before")
        acc = (acc << 1) | r.readBit()
        len += 1
        hit = inv.get((len, acc))
      }
      hit.get
    } else {
      val v = r.readBits(3).toInt
      if (v > 0) 7 - v
      else {
        var run = 7
        while (r.readBit() == 0) {
          run += 1
          require(run <= 14, "malformed run_before unary tail")
        }
        run
      }
    }
  }

  private def totalZerosTable(tc: Int,
      chromaDc: Boolean): Map[Int, (Int, Int)] =
    if (chromaDc) TotalZerosChromaDc.getOrElse(tc, sys.error(
      s"malformed chroma DC total_zeros index $tc"))
    else TotalZeros4x4.getOrElse(tc, sys.error(
      s"malformed total_zeros tzVlcIndex $tc"))

  private def totalZerosInv(tc: Int,
      chromaDc: Boolean): Map[(Int, Int), Int] =
    if (chromaDc) TotalZerosInvCdc.getOrElse(tc, sys.error(
      s"malformed chroma DC total_zeros index $tc"))
    else TotalZerosInv4x4.getOrElse(tc, sys.error(
      s"malformed total_zeros tzVlcIndex $tc"))

  /** The one remaining coeff_token gap: the 4 ≤ nC < 8 column. A
    * draft transcription of it FAILED this file's Kraft audit (the
    * recalled lengths summed past 1 — a provably wrong table), so
    * per the house rule (spec tables as data, never unverifiable
    * memory) the column stayed an explicit unsupported-error through
    * r16. ROUND 17 LIFTS IT: [[CoeffTokenNc47]] carries the middle
    * column from two independent transcriptions that agree
    * entry-for-entry, audited (prefix-free, Kraft 1 − 2⁻¹⁰, 62
    * entries, golden bitstrings, full roundtrip — H264IntraSpec).
    * Every nC context the 9.2.1 derivation can produce now
    * dispatches to a carried column; a context outside −1..16+ is
    * a caller bug and still errors loudly. */
  private def coeffTokenUnsupported(nC: Int): Nothing = sys.error(
    s"coeff_token: nC=$nC outside the 9.2.1 derivation range " +
      "(-1, or 0..; every derivable column is carried)")

  /** Encode-side coeff_token dispatch over the carried Table 9-5
    * columns. nC ≥ 8 is the published fixed-length code: 6 bits,
    * ((TotalCoeff−1) << 2) | TrailingOnes, with (0,0) -> 000011. */
  private def writeCoeffToken(w: BitWriter, t1: Int, tc: Int,
      nC: Int): Unit = {
    if (nC >= 8) {
      val v = if (tc == 0) 3 else ((tc - 1) << 2) | t1
      w.writeBits(v.toLong, 6)
    } else {
      val table =
        if (nC == -1) CoeffTokenChromaDc
        else if (nC >= 0 && nC < 2) CoeffTokenNc01
        else if (nC >= 2 && nC < 4) CoeffTokenNc23
        else if (nC >= 4 && nC < 8) CoeffTokenNc47
        else coeffTokenUnsupported(nC)
      val (len, bits) = table.getOrElse((t1, tc), sys.error(
        s"coeff_token ($t1, $tc) outside the nC=$nC column"))
      w.writeBits(bits.toLong, len)
    }
  }

  /** Decode-side coeff_token dispatch: returns (TrailingOnes,
    * TotalCoeff). */
  private def readCoeffToken(r: BitReader, nC: Int): (Int, Int) = {
    if (nC >= 8) {
      val v = r.readBits(6).toInt
      if (v == 3) (0, 0)
      else {
        val tc = (v >> 2) + 1
        val t1 = v & 3
        require(t1 <= math.min(3, tc),
          s"malformed FLC coeff_token $v (TrailingOnes $t1 > " +
            s"TotalCoeff $tc)")
        (t1, tc)
      }
    } else {
      val inv =
        if (nC == -1) CoeffTokenInvCdc
        else if (nC >= 0 && nC < 2) CoeffTokenInv
        else if (nC >= 2 && nC < 4) CoeffTokenInv23
        else if (nC >= 4 && nC < 8) CoeffTokenInv47
        else coeffTokenUnsupported(nC)
      var len = 0
      var acc = 0
      var hit: Option[(Int, Int)] = None
      while (hit.isEmpty) {
        require(len < 16, "malformed coeff_token")
        acc = (acc << 1) | r.readBit()
        len += 1
        hit = inv.get((len, acc))
      }
      hit.get
    }
  }

  /** Encode one general residual block from its SCAN-order level
    * vector: 16 entries (luma 4x4 zig-zag) or 4 entries (chroma DC
    * raster, nC = −1). Any TotalCoeff up to maxNumCoeff encodes, in
    * every nC context (all five Table 9-5 columns carried as of
    * r17). Returns TotalCoeff (the caller's
    * nC bookkeeping). DC-only vectors encode BIT-IDENTICALLY to
    * [[writeCavlcDcOnly]]; every r15 TotalCoeff ≤ 3 stream is
    * bit-identical too (spec-pinned). */
  def writeCavlc(w: BitWriter, zz: Array[Int], nC: Int): Int = {
    val maxNumCoeff = if (nC == -1) 4 else 16
    require(zz.length == maxNumCoeff,
      s"scan vector must carry $maxNumCoeff levels for nC=$nC")
    val nzAsc = zz.indices.filter(zz(_) != 0)
    val totalCoeff = nzAsc.size
    if (totalCoeff == 0) {
      writeCoeffToken(w, 0, 0, nC)
      return 0
    }
    val nzDesc = nzAsc.reverse // decode order: highest frequency first
    // trailing ones: consecutive |1|s from the high-frequency end
    var t1 = 0
    while (t1 < math.min(3, totalCoeff) &&
        math.abs(zz(nzDesc(t1))) == 1) t1 += 1
    writeCoeffToken(w, t1, totalCoeff, nC)
    var i = 0
    while (i < t1) { // trailing_ones_sign_flag, high freq first
      w.writeBit(if (zz(nzDesc(i)) < 0) 1 else 0)
      i += 1
    }
    // 9.3.2.3's init rule: dense blocks with a non-full trailing-one
    // head start at suffixLength 1 (r16 — reachable now that
    // TotalCoeff runs to 16)
    var suffixLength =
      if (totalCoeff > 10 && t1 < 3) 1 else 0
    var first = true
    i = t1
    while (i < totalCoeff) {
      val level = zz(nzDesc(i))
      var levelCode =
        if (level > 0) 2 * level - 2 else -2 * level - 1
      // 9.2.2.1: the first coded level after < 3 trailing ones
      // cannot be ±1, so its code space shifts down by 2
      if (first && t1 < 3) levelCode -= 2
      first = false
      writeLevelCode(w, levelCode, suffixLength)
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(level) > (3 << (suffixLength - 1)) &&
          suffixLength < 6) suffixLength += 1
      i += 1
    }
    // total_zeros — NOT coded when every scan position carries a
    // coefficient (totalZeros is forced to 0)
    if (totalCoeff < maxNumCoeff) {
      val totalZeros = nzDesc.head + 1 - totalCoeff
      val (zl, zb) = totalZerosTable(totalCoeff, nC == -1)(totalZeros)
      w.writeBits(zb.toLong, zl)
      // run_before for every coefficient but the lowest-frequency
      // one, while zeros remain
      var zerosLeft = totalZeros
      i = 0
      while (i < totalCoeff - 1 && zerosLeft > 0) {
        val run = nzDesc(i) - nzDesc(i + 1) - 1
        writeRunBefore(w, run, zerosLeft)
        zerosLeft -= run
        i += 1
      }
    }
    totalCoeff
  }

  /** Decode one general residual block. Returns the SCAN-order level
    * vector (16 entries for luma 4x4, 4 for chroma DC at nC = −1).
    * Loud rejects: malformed codewords, level_prefix > 15. */
  def readCavlc(r: BitReader, nC: Int): Array[Int] = {
    val maxNumCoeff = if (nC == -1) 4 else 16
    val (t1s, totalCoeff) = readCoeffToken(r, nC)
    val zz = new Array[Int](maxNumCoeff)
    if (totalCoeff == 0) return zz
    require(totalCoeff <= maxNumCoeff,
      s"malformed coeff_token: TotalCoeff=$totalCoeff > $maxNumCoeff")
    val levels = new Array[Int](totalCoeff) // high freq first
    var i = 0
    while (i < t1s) {
      levels(i) = if (r.readBit() == 1) -1 else 1
      i += 1
    }
    var suffixLength =
      if (totalCoeff > 10 && t1s < 3) 1 else 0
    var first = true
    i = t1s
    while (i < totalCoeff) {
      var levelCode = readLevelCode(r, suffixLength)
      if (first && t1s < 3) levelCode += 2
      first = false
      val level =
        if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      levels(i) = level
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(level) > (3 << (suffixLength - 1)) &&
          suffixLength < 6) suffixLength += 1
      i += 1
    }
    // total_zeros (absent when the block is saturated)
    val totalZeros =
      if (totalCoeff == maxNumCoeff) 0
      else {
        val tzInv = totalZerosInv(totalCoeff, nC == -1)
        var zLen = 0
        var zAcc = 0
        var zHit: Option[Int] = None
        while (zHit.isEmpty) {
          require(zLen < 10, "malformed total_zeros")
          zAcc = (zAcc << 1) | r.readBit()
          zLen += 1
          zHit = tzInv.get((zLen, zAcc))
        }
        zHit.get
      }
    // runs below each coefficient, high freq first
    val runs = new Array[Int](totalCoeff)
    var zerosLeft = totalZeros
    i = 0
    while (i < totalCoeff - 1) {
      val run = if (zerosLeft > 0) readRunBefore(r, zerosLeft) else 0
      runs(i) = run
      zerosLeft -= run
      i += 1
    }
    runs(totalCoeff - 1) = zerosLeft
    // placement: highest-frequency coefficient sits at scan
    // position TotalCoeff - 1 + totalZeros; each run of zeros
    // separates it from the next lower one
    var pos = totalCoeff - 1 + totalZeros
    i = 0
    while (i < totalCoeff) {
      zz(pos) = levels(i)
      pos -= 1 + runs(i)
      i += 1
    }
    zz
  }

  // ---------------------------------------------------------------
  // coded_block_pattern me(v): the published head of Table 9-4
  // (intra column). The constrained stream only produces cbp 15
  // (luma fully coded, chroma zero); the four shortest codes are
  // carried so the parse is a real mapping, and anything longer is
  // an explicit unsupported-error.
  // ---------------------------------------------------------------

  private val CbpIntraHead = Array(47, 31, 15, 0) // codeNum -> cbp

  def writeCbpIntra(w: BitWriter, cbp: Int): Unit = {
    val codeNum = CbpIntraHead.indexOf(cbp)
    require(codeNum >= 0,
      s"constrained profile: cbp $cbp outside the carried me(v) head")
    w.writeUe(codeNum)
  }

  def readCbpIntra(r: BitReader): Int = {
    val codeNum = r.readUe()
    require(codeNum < CbpIntraHead.length,
      s"constrained profile: me(v) codeNum $codeNum outside the " +
        "carried Table 9-4 head")
    CbpIntraHead(codeNum)
  }

  // ---------------------------------------------------------------
  // frame codec
  // ---------------------------------------------------------------

  /** A 4:2:0 frame: luma w x h, chroma (w/2) x (h/2). */
  case class Yuv(w: Int, h: Int, y: Array[Int], cb: Array[Int],
      cr: Array[Int])

  /** Z-scan order of the 16 luma 4x4 blocks in a macroblock:
    * luma4x4BlkIdx -> (xOffset, yOffset) inside the MB. */
  val Luma4x4Offsets: Array[(Int, Int)] = Array(
    (0, 0), (4, 0), (0, 4), (4, 4),
    (8, 0), (12, 0), (8, 4), (12, 4),
    (0, 8), (4, 8), (0, 12), (4, 12),
    (8, 8), (12, 8), (8, 12), (12, 12))

  /** Intra 4x4 luma prediction modes carried by the constrained
    * profile: 0 = Vertical (8.3.1.2.1), 1 = Horizontal (8.3.1.2.2),
    * 2 = DC (8.3.1.2.4). The diagonal family (3..8) is outside the
    * profile and rejected at parse. */
  val IntraModeVertical = 0
  val IntraModeHorizontal = 1
  val IntraModeDc = 2

  /** The 16-sample intra 4x4 prediction block for `mode` at luma
    * position (x, y), from reconstructed neighbors. */
  private def predictBlock(recon: Array[Int], stride: Int, x: Int,
      y: Int, mode: Int): Array[Int] = {
    val hasLeft = x > 0
    val hasTop = y > 0
    mode match {
      case IntraModeVertical =>
        require(hasTop, "vertical prediction without a top neighbor")
        Array.tabulate(16)(i => recon((y - 1) * stride + x + i % 4))
      case IntraModeHorizontal =>
        require(hasLeft,
          "horizontal prediction without a left neighbor")
        Array.tabulate(16)(i => recon((y + i / 4) * stride + x - 1))
      case IntraModeDc =>
        val dc =
          if (hasLeft && hasTop) {
            var s = 0
            var i = 0
            while (i < 4) {
              s += recon((y + i) * stride + x - 1)
              s += recon((y - 1) * stride + x + i)
              i += 1
            }
            (s + 4) >> 3
          } else if (hasLeft) {
            var s = 0; var i = 0
            while (i < 4) {
              s += recon((y + i) * stride + x - 1); i += 1
            }
            (s + 2) >> 2
          } else if (hasTop) {
            var s = 0; var i = 0
            while (i < 4) {
              s += recon((y - 1) * stride + x + i); i += 1
            }
            (s + 2) >> 2
          } else 128
        Array.fill(16)(dc)
      case m => sys.error(
        s"constrained profile: intra 4x4 mode $m (the diagonal " +
          "family is unsupported)")
    }
  }

  /** predIntra4x4PredMode (8.3.1.1): DC if either neighbor block is
    * unavailable, else the MINIMUM of the two neighbor modes. The
    * grid holds -1 for not-yet-decoded/outside positions. */
  private def predIntraMode(modeGrid: Array[Int], blocksW: Int,
      bx: Int, by: Int): Int = {
    val a = if (bx > 0) modeGrid(by * blocksW + bx - 1) else -1
    val b = if (by > 0) modeGrid((by - 1) * blocksW + bx) else -1
    if (a < 0 || b < 0) IntraModeDc else math.min(a, b)
  }

  /** Chroma DC prediction (8.3.4, mode 0) for the 4x4 chroma block
    * at plane position (x, y): the corner blocks of the 8x8 use both
    * edges, the off-corner blocks the single adjacent one. Per
    * 8.3.4 the neighbor samples are MB-EXTERNAL — the left samples
    * are the column p[-1, yO..yO+3] at the macroblock's left edge
    * and the top samples the row p[xO..xO+3, -1] above the
    * macroblock, never reconstructed samples inside the same MB —
    * so availability is decided by the MACROBLOCK's position, not
    * the sub-block's. */
  private def chromaDcPredict(recon: Array[Int], stride: Int, x: Int,
      y: Int): Int = {
    val mbx0 = x - (x % 8) // plane x of the MB's first chroma sample
    val mby0 = y - (y % 8)
    val hasLeft = mbx0 > 0
    val hasTop = mby0 > 0
    val xInMb = (x % 8) / 4
    val yInMb = (y % 8) / 4
    def sumLeft: Int = {
      var s = 0; var i = 0
      while (i < 4) { s += recon((y + i) * stride + mbx0 - 1); i += 1 }
      s
    }
    def sumTop: Int = {
      var s = 0; var i = 0
      while (i < 4) { s += recon((mby0 - 1) * stride + x + i); i += 1 }
      s
    }
    (xInMb, yInMb) match {
      case (1, 0) => // prefers top
        if (hasTop) (sumTop + 2) >> 2
        else if (hasLeft) (sumLeft + 2) >> 2
        else 128
      case (0, 1) => // prefers left
        if (hasLeft) (sumLeft + 2) >> 2
        else if (hasTop) (sumTop + 2) >> 2
        else 128
      case _ => // (0,0) and (1,1): both edges
        if (hasLeft && hasTop) (sumLeft + sumTop + 4) >> 3
        else if (hasLeft) (sumLeft + 2) >> 2
        else if (hasTop) (sumTop + 2) >> 2
        else 128
    }
  }

  private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** The CAVLC nC context (9.2.1): mean of the available left/top
    * neighbor blocks' TotalCoeff over the frame-wide 4x4 grid. */
  private def ncOf(tc: Array[Int], blocksW: Int, bx: Int,
      by: Int): Int = {
    val hasA = bx > 0
    val hasB = by > 0
    if (hasA && hasB)
      (tc(by * blocksW + bx - 1) + tc((by - 1) * blocksW + bx) + 1) >> 1
    else if (hasA) tc(by * blocksW + bx - 1)
    else if (hasB) tc((by - 1) * blocksW + bx)
    else 0
  }

  /** Encode one IDR frame as a complete Annex-B stream (SPS + PPS +
    * IDR slice). Any luma TotalCoeff 0..16 encodes in every nC
    * context (r17 — all Table 9-5 columns carried); the chroma
    * residual must be constant per 4x4 block (the DC-layer profile,
    * loud-rejected otherwise). `vhRotation = false` predicts every block in
    * DC mode (spec-conformant; the AC fixture uses it so the
    * residual structure stays provably 3-sparse — a V/H prediction
    * from a reconstructed ramp would fold requantization noise into
    * the residual and could push a block past the profile bound). */
  def encodeIdr(src: Yuv, qp: Int,
      vhRotation: Boolean = true): Array[Byte] = {
    val (sps, pps, idr) = encodeIdrRbsps(src, qp, vhRotation)
    nalUnit(NalSps, sps) ++ nalUnit(NalPps, pps) ++ nalUnit(NalIdr, idr)
  }

  /** [[encodeIdr]] split into its three raw RBSPs — the form the
    * avc1 MP4 boxing (q229) needs: SPS/PPS go into the avcC
    * configuration record, the slice into a length-prefixed
    * sample. */
  def encodeIdrRbsps(src: Yuv, qp: Int,
      vhRotation: Boolean = true)
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    require(src.w % 16 == 0 && src.h % 16 == 0, "MB-aligned only")
    require(qp >= 0 && qp <= 51, "QP out of range")
    val wMbs = src.w / 16
    val hMbs = src.h / 16
    val stride = src.w
    val recon = new Array[Int](src.w * src.h)
    val blocksW = src.w / 4
    val tcGrid = new Array[Int](blocksW * (src.h / 4))
    val modeGrid = Array.fill(blocksW * (src.h / 4))(-1)
    // chroma reconstruction planes: predictions read RECONSTRUCTED
    // neighbors (8.3.4) — identical to the decoder's feedback loop;
    // for zero-residual (cbp-15) macroblocks recon == source, so the
    // r13/r15 flat-chroma streams are untouched
    val cw = src.w / 2
    val reconCb = new Array[Int](cw * (src.h / 2))
    val reconCr = new Array[Int](cw * (src.h / 2))

    val w = new BitWriter
    // slice header
    w.writeUe(0) // first_mb_in_slice
    w.writeUe(7) // slice_type: I (all slices of the picture)
    w.writeUe(0) // pic_parameter_set_id
    w.writeBits(0, 4) // frame_num (log2_max_frame_num = 4)
    w.writeUe(0) // idr_pic_id
    // dec_ref_pic_marking (IDR)
    w.writeBit(0) // no_output_of_prior_pics_flag
    w.writeBit(0) // long_term_reference_flag
    w.writeSe(0)  // slice_qp_delta (slice QP == pic_init_qp == qp)
    w.writeUe(1)  // disable_deblocking_filter_idc = 1 (filter OFF)

    var mb = 0
    while (mb < wMbs * hMbs) {
      val mbX = (mb % wMbs) * 16
      val mbY = (mb / wMbs) * 16
      w.writeUe(0) // mb_type: I_NxN
      // pass 1 — the 16 intra pred modes (written before chroma
      // mode/cbp/residual, per the mb_pred() syntax): a
      // deterministic V/H/DC rotation wherever both neighbors exist
      // (V needs top, H needs left), DC at picture edges; coded with
      // the real flag/rem machinery against predIntra4x4PredMode
      val mbModes = new Array[Int](16)
      var b = 0
      while (b < 16) {
        val (ox, oy) = Luma4x4Offsets(b)
        val x = mbX + ox
        val y = mbY + oy
        val bx = x / 4
        val by = y / 4
        val mode =
          if (vhRotation && x > 0 && y > 0)
            Array(IntraModeDc, IntraModeVertical,
              IntraModeHorizontal)((bx + 2 * by) % 3)
          else IntraModeDc
        val predicted = predIntraMode(modeGrid, blocksW, bx, by)
        if (mode == predicted) w.writeBit(1)
        else {
          w.writeBit(0)
          w.writeBits(
            (if (mode < predicted) mode else mode - 1).toLong, 3)
        }
        modeGrid(by * blocksW + bx) = mode
        mbModes(b) = mode
        b += 1
      }
      w.writeUe(0) // intra_chroma_pred_mode: DC
      // chroma DC layer (r16): per plane, the residual of every 4x4
      // chroma block against its DC prediction must be CONSTANT (so
      // the block's AC transform is exactly zero — the profile's
      // chroma shape); the four DC coefficients ride the 2x2
      // Hadamard + quant. All-zero levels across both planes keep
      // cbp at 15 (bit-identical r13/r15 streams); anything else
      // codes cbp 31 + two chroma DC CAVLC blocks. Computed BEFORE
      // cbp is written (the syntax orders cbp first); predictions
      // are MB-external (8.3.4), so this MB's own recon is not read.
      val cmbX = mbX / 2
      val cmbY = mbY / 2
      val chroma = Seq(
        (src.cb, reconCb), (src.cr, reconCr)).map {
        case (plane, rec) =>
          val preds = new Array[Int](4)
          val dcs = new Array[Int](4)
          var sub = 0
          while (sub < 4) {
            val x = cmbX + (sub % 2) * 4
            val y = cmbY + (sub / 2) * 4
            val pred = chromaDcPredict(rec, cw, x, y)
            preds(sub) = pred
            val k = plane(y * cw + x) - pred
            var i = 0
            while (i < 16) {
              require(plane((y + i / 4) * cw + x + i % 4) - pred == k,
                "carried profile: chroma residual must be constant " +
                  s"per 4x4 block (plane mismatch at ($x,$y))")
              i += 1
            }
            dcs(sub) = forward4x4(Array.fill(16)(k))(0)
            sub += 1
          }
          (preds, dcs)
      }
      val anyChromaDc = chroma.exists(_._2.exists(_ != 0))
      val levels = chroma.map { case (_, dcs) =>
        if (!anyChromaDc) Array.fill(4)(0)
        else hadamard2x2(dcs).map(quantChromaDc(_, qp))
      }
      // sub-quantum residuals may still quantize to silence — then
      // the MB codes cbp 15 like a flat one (decoder recon = pred,
      // which the encoder mirrors below)
      val chromaCoded = levels.exists(_.exists(_ != 0))
      writeCbpIntra(w, if (chromaCoded) 31 else 15)
      w.writeSe(0) // mb_qp_delta
      // pass 2 — luma residual: 16 blocks in Z-scan, DC-only
      b = 0
      while (b < 16) {
        val (ox, oy) = Luma4x4Offsets(b)
        val x = mbX + ox
        val y = mbY + oy
        val pred = predictBlock(recon, stride, x, y, mbModes(b))
        val resid = new Array[Int](16)
        var i = 0
        while (i < 16) {
          resid(i) = src.y((y + i / 4) * stride + x + i % 4) - pred(i)
          i += 1
        }
        val coeffs = forward4x4(resid)
        // quantize all 16 positions into the zig-zag level vector;
        // writeCavlc loud-rejects blocks past the profile bound
        // (TotalCoeff <= MaxTotalCoeff) with a block-located message
        val zz = new Array[Int](16)
        i = 0
        while (i < 16) {
          val raster = ZigZag4x4(i)
          zz(i) = quantCoeff(coeffs(raster), raster / 4, raster % 4,
            qp)
          i += 1
        }
        val bx = x / 4
        val by = y / 4
        val tc =
          try writeCavlc(w, zz, ncOf(tcGrid, blocksW, bx, by))
          catch {
            case e: IllegalArgumentException => throw
              new IllegalArgumentException(
                s"extended encoder at block ($x,$y): ${e.getMessage}",
                e)
          }
        tcGrid(by * blocksW + bx) = tc
        // reconstruct exactly as the decoder will
        val deq = new Array[Int](16)
        i = 0
        while (i < 16) {
          val raster = ZigZag4x4(i)
          deq(raster) =
            dequantCoeff(zz(i), raster / 4, raster % 4, qp)
          i += 1
        }
        val rec = inverse4x4(deq)
        i = 0
        while (i < 16) {
          recon((y + i / 4) * stride + x + i % 4) =
            clip255(pred(i) + rec(i))
          i += 1
        }
        b += 1
      }
      // chroma residual bits (after the luma blocks, per the
      // residual() syntax: ChromaDCLevel for cb then cr when
      // cbp chroma & 3) + the decoder-identical reconstruction
      if (chromaCoded) levels.foreach(l => writeCavlc(w, l, -1))
      chroma.zip(levels).zip(Seq(reconCb, reconCr)).foreach {
        case (((preds, _), lv), rec) =>
          val dcC =
            if (chromaCoded) hadamard2x2(lv)
              .map(dequantChromaDc(_, qp))
            else Array.fill(4)(0)
          var sub = 0
          while (sub < 4) {
            val x = cmbX + (sub % 2) * 4
            val y = cmbY + (sub / 2) * 4
            val deq = new Array[Int](16)
            deq(0) = dcC(sub)
            val blk = inverse4x4(deq)
            var i = 0
            while (i < 16) {
              rec((y + i / 4) * cw + x + i % 4) =
                clip255(preds(sub) + blk(i))
              i += 1
            }
            sub += 1
          }
      }
      mb += 1
    }
    (writeSps(Sps(wMbs, hMbs)), writePps(Pps(qp)), w.finishRbsp())
  }

  // ---------------------------------------------------------------
  // avc1 boxing (q229): the AVCDecoderConfigurationRecord and the
  // length-prefixed sample format ISO/IEC 14496-15 uses inside MP4
  // ---------------------------------------------------------------

  /** AVCDecoderConfigurationRecord (the avcC box body): version 1,
    * profile/compat/level copied from the SPS head, 4-byte NAL
    * lengths, one SPS + one PPS carried as header+EBSP NALs. */
  def avcConfigRecord(spsRbsp: Array[Byte],
      ppsRbsp: Array[Byte]): Array[Byte] = {
    val sps = nalBytes(NalSps, spsRbsp)
    val pps = nalBytes(NalPps, ppsRbsp)
    def u16(v: Int) = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    Array(1.toByte, sps(1), sps(2), sps(3),
      0xFF.toByte, // reserved '111111' + lengthSizeMinusOne = 3
      0xE1.toByte) ++ // reserved '111' + numOfSPS = 1
      u16(sps.length) ++ sps ++
      Array(1.toByte) ++ u16(pps.length) ++ pps
  }

  /** One length-prefixed MP4 sample from a slice RBSP (4-byte
    * big-endian NAL length, then header+EBSP). */
  def avcSample(idrRbsp: Array[Byte]): Array[Byte] = {
    val nal = nalBytes(NalIdr, idrRbsp)
    java.nio.ByteBuffer.allocate(4 + nal.length)
      .putInt(nal.length).put(nal).array()
  }

  /** Reassemble a decodable Annex-B stream from a sample-entry
    * extension (the boxes after the 78-byte visual sample entry —
    * avcC located by a real box walk) plus one length-prefixed
    * sample: start-coded SPS + PPS from the record, then every NAL
    * of the sample. */
  def annexBFromAvcc(sampleEntryExt: Array[Byte],
      sample: Array[Byte]): Array[Byte] = {
    // walk the extension boxes for avcC
    var pos = 0
    var avcc: Option[Array[Byte]] = None
    while (avcc.isEmpty && pos + 8 <= sampleEntryExt.length) {
      val size = java.nio.ByteBuffer.wrap(sampleEntryExt, pos, 4)
        .getInt
      val tp = new String(sampleEntryExt, pos + 4, 4, "US-ASCII")
      require(size >= 8 && pos + size <= sampleEntryExt.length,
        s"malformed sample-entry extension box $tp")
      if (tp == "avcC")
        avcc = Some(sampleEntryExt.slice(pos + 8, pos + size))
      pos += size
    }
    val rec = avcc.getOrElse(sys.error("no avcC in sample entry"))
    require(rec.length >= 7 && rec(0) == 1,
      "unsupported AVCDecoderConfigurationRecord version")
    val lengthSize = (rec(4) & 0x3) + 1
    require(lengthSize == 4,
      s"constrained profile: NAL length size $lengthSize (4 only)")
    val numSps = rec(5) & 0x1F
    var p = 6
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def readNals(n: Int): Unit = {
      var i = 0
      while (i < n) {
        val len = ((rec(p) & 0xFF) << 8) | (rec(p + 1) & 0xFF)
        p += 2
        out ++= Array[Byte](0, 0, 0, 1)
        out ++= rec.slice(p, p + len)
        p += len
        i += 1
      }
    }
    readNals(numSps)
    val numPps = rec(p) & 0xFF
    p += 1
    readNals(numPps)
    // the sample: length-prefixed NALs -> start-coded
    var s = 0
    while (s < sample.length) {
      require(s + 4 <= sample.length, "truncated sample NAL length")
      val len = java.nio.ByteBuffer.wrap(sample, s, 4).getInt
      s += 4
      require(len > 0 && s + len <= sample.length,
        "sample NAL length out of bounds")
      out ++= Array[Byte](0, 0, 0, 1)
      out ++= sample.slice(s, s + len)
      s += len
    }
    out.toArray
  }

  /** Decode a complete SPS+PPS+IDR Annex-B stream back to 4:2:0
    * planes. Rejects anything outside the carried profile with
    * explicit errors (never a silent wrong answer). */
  def decodeIdr(stream: Array[Byte]): Yuv = decodeIdrStats(stream).yuv

  /** [[decodeIdrStats]]'s census: the frame; the number of luma 4x4
    * blocks whose decoded TotalCoeff ≥ 2 (q289's AC evidence) and
    * the max luma TotalCoeff; the number of luma blocks decoded
    * through the nC ≥ 8 FLC coeff_token column (q315's evidence)
    * and through the 4 ≤ nC < 8 middle column (q327's evidence,
    * r17); and the chroma side — macroblocks carrying a coded
    * chroma DC block (cbp 31) and the max chroma DC TotalCoeff
    * (q314's evidence). */
  final case class IdrStats(yuv: Yuv, acBlocks: Int, maxTc: Int,
      flcBlocks: Int, chromaCodedMbs: Int, maxChromaTc: Int,
      midBlocks: Int)

  def decodeIdrStats(stream: Array[Byte]): IdrStats = {
    val nals = splitNals(stream)
    val sps = parseSps(nals.collectFirst {
      case (NalSps, rbsp) => rbsp
    }.getOrElse(sys.error("no SPS")))
    val pps = parsePps(nals.collectFirst {
      case (NalPps, rbsp) => rbsp
    }.getOrElse(sys.error("no PPS")))
    val slice = nals.collectFirst {
      case (NalIdr, rbsp) => rbsp
    }.getOrElse(sys.error("no IDR slice"))

    val w = sps.widthMbs * 16
    val h = sps.heightMbs * 16
    val stride = w
    val y = new Array[Int](w * h)
    val cb = new Array[Int]((w / 2) * (h / 2))
    val cr = new Array[Int]((w / 2) * (h / 2))
    val blocksW = w / 4
    val tcGrid = new Array[Int](blocksW * (h / 4))
    val modeGrid = Array.fill(blocksW * (h / 4))(-1)
    var acBlocks = 0
    var maxTc = 0
    var flcBlocks = 0
    var midBlocks = 0
    var chromaCodedMbs = 0
    var maxChromaTc = 0

    val r = new BitReader(slice)
    require(r.readUe() == 0, "first_mb_in_slice != 0")
    val sliceType = r.readUe()
    require(sliceType == 2 || sliceType == 7,
      s"not an I slice: $sliceType")
    require(r.readUe() == 0, "pic_parameter_set_id != 0")
    r.readBits(4) // frame_num
    r.readUe() // idr_pic_id
    r.readBit(); r.readBit() // dec_ref_pic_marking
    val qp = pps.picInitQp + r.readSe()
    require(qp >= 0 && qp <= 51, s"slice QP $qp out of range")
    val deblockIdc = r.readUe()
    require(deblockIdc == 1,
      "constrained profile: deblocking must be disabled in-stream " +
        s"(disable_deblocking_filter_idc=$deblockIdc)")

    var mb = 0
    while (mb < sps.widthMbs * sps.heightMbs) {
      val mbX = (mb % sps.widthMbs) * 16
      val mbY = (mb / sps.widthMbs) * 16
      val mbType = r.readUe()
      require(mbType == 0, s"constrained profile: mb_type $mbType " +
        "(I_NxN only)")
      // intra 4x4 pred modes: the real flag/rem parse against the
      // 8.3.1.1 derivation; modes beyond V/H/DC reject at predict
      val mbModes = new Array[Int](16)
      var b = 0
      while (b < 16) {
        val (ox, oy) = Luma4x4Offsets(b)
        val bx = (mbX + ox) / 4
        val by = (mbY + oy) / 4
        val predicted = predIntraMode(modeGrid, blocksW, bx, by)
        val mode =
          if (r.readBit() == 1) predicted
          else {
            val rem = r.readBits(3).toInt
            if (rem < predicted) rem else rem + 1
          }
        require(mode <= IntraModeDc,
          s"constrained profile: intra 4x4 mode $mode (the " +
            "diagonal family is unsupported)")
        modeGrid(by * blocksW + bx) = mode
        mbModes(b) = mode
        b += 1
      }
      val chromaMode = r.readUe()
      require(chromaMode == 0,
        s"constrained profile: intra_chroma_pred_mode $chromaMode")
      val cbp = readCbpIntra(r)
      require(cbp == 15 || cbp == 31,
        s"carried profile: cbp $cbp (luma fully coded; chroma zero " +
          "or DC-only)")
      val qpDelta = r.readSe()
      require(qpDelta == 0, "constrained profile: mb_qp_delta != 0")
      b = 0
      while (b < 16) {
        val (ox, oy) = Luma4x4Offsets(b)
        val x = mbX + ox
        val yy = mbY + oy
        val bx = x / 4
        val by = yy / 4
        val nC = ncOf(tcGrid, blocksW, bx, by)
        if (nC >= 8) flcBlocks += 1
        else if (nC >= 4) midBlocks += 1
        val zz = readCavlc(r, nC)
        val tc = zz.count(_ != 0)
        tcGrid(by * blocksW + bx) = tc
        if (tc >= 2) acBlocks += 1
        if (tc > maxTc) maxTc = tc
        val pred = predictBlock(y, stride, x, yy, mbModes(b))
        val deq = new Array[Int](16)
        var i = 0
        while (i < 16) {
          val raster = ZigZag4x4(i)
          deq(raster) =
            dequantCoeff(zz(i), raster / 4, raster % 4, qp)
          i += 1
        }
        val rec = inverse4x4(deq)
        i = 0
        while (i < 16) {
          y((yy + i / 4) * stride + x + i % 4) =
            clip255(pred(i) + rec(i))
          i += 1
        }
        b += 1
      }
      // chroma: cbp chroma = 0 -> prediction only; = 1 -> the two
      // chroma DC CAVLC blocks (cb then cr, per the residual()
      // syntax), 2x2 inverse Hadamard, 8.5.8 scaling, and each 4x4
      // block reconstructed from its DC + the DC prediction
      val cw = w / 2
      val cmbX = mbX / 2
      val cmbY = mbY / 2
      if ((cbp >> 4) == 1) {
        chromaCodedMbs += 1
        for (plane <- Seq(cb, cr)) {
          val lv = readCavlc(r, -1)
          val tc = lv.count(_ != 0)
          if (tc > maxChromaTc) maxChromaTc = tc
          val dcC = hadamard2x2(lv).map(dequantChromaDc(_, qp))
          var sub = 0
          while (sub < 4) {
            val x = cmbX + (sub % 2) * 4
            val yy = cmbY + (sub / 2) * 4
            val pred = chromaDcPredict(plane, cw, x, yy)
            val deq = new Array[Int](16)
            deq(0) = dcC(sub)
            val blk = inverse4x4(deq)
            var i = 0
            while (i < 16) {
              plane((yy + i / 4) * cw + x + i % 4) =
                clip255(pred + blk(i))
              i += 1
            }
            sub += 1
          }
        }
      } else {
        for (plane <- Seq(cb, cr); sub <- 0 until 4) {
          val x = cmbX + (sub % 2) * 4
          val yy = cmbY + (sub / 2) * 4
          val pred = chromaDcPredict(plane, cw, x, yy)
          var i = 0
          while (i < 16) {
            plane((yy + i / 4) * cw + x + i % 4) = pred
            i += 1
          }
        }
      }
      mb += 1
    }
    IdrStats(Yuv(w, h, y, cb, cr), acBlocks, maxTc, flcBlocks,
      chromaCodedMbs, maxChromaTc, midBlocks)
  }
}
